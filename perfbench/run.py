"""Benchmark of the graft engine: two closed-loop workloads with one
client, measured end to end (tracing off) or per layer (tracing on).

    python3 perfbench/run.py --workload aql_dashboard --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import duckdb  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# copies of the engine's read-only sf0.1 and sf0.001 parquet fixtures
# (generated with seed 42), limited to the tables the workloads read
FIXTURE = os.path.join(HERE, "fixture")

# Each workload: the fixture scale and its op mix.
WORKLOADS = {
    "aql_dashboard": {
        "sf": "0.1",
        "queries": [
            "q_a1_hourly_rollup", "q_allowed_inbound", "q_p7_timerange",
            "q_j1_domainname", "q_j3_globalview", "q_f1_weekfrom",
            "q_a2_reagg_navigated", "q_a2_nav_filtered", "q_a2_nav_dashboard"],
    },
    "ingest_rollup": {
        "sf": "0.1", "batches": 24, "late_share": 0.05,
    },
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s",
         "rows_per_s": "rows/s", "live_heap_mb": "MB"}


def driver_mem():
    """Heap size by the engine's tier-1 rule: half of RAM, 2 to 8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def start_jvm(cp, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)


def stop_jvm(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def wait_jvm(p, work, deadline):
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise RuntimeError("the JVM driver ran past the time limit")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [line for line in f if "WARN" not in line and " INFO " not in line][-15:]
        raise RuntimeError(f"the JVM driver exited with {rc}:\n" + "".join(tail))


def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 2")
    return con


def table_views(con, data_dir):
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            p = os.path.join(data_dir, name)
            glob = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE OR REPLACE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{glob}')")


def result_fp(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return metrics.fingerprint(cols, cur.fetchall())


def check_queries(rec):
    """Each distinct query's warm-up result against its DuckDB oracle.
    Returns {query: error} for the queries that failed."""
    con = duck()
    table_views(con, rec["data_dir"])
    bad = {}
    for q, ref in rec["queries"].items():
        if ref.get("error"):
            bad[q] = ref["error"]
        elif not ref.get("oracle"):
            bad[q] = f"{q}: no oracle SQL"
        else:
            try:
                want = result_fp(con, ref["oracle"])
                got = result_fp(con, f"SELECT * FROM read_parquet('{ref['result']}/*.parquet')")
                if want != got:
                    bad[q] = f"{q}: result differs from the DuckDB oracle"
            except duckdb.Error as e:
                bad[q] = f"{q}: oracle failed: {str(e).splitlines()[0]}"
    return bad


def check_ingest(rec, fixture_events, batches):
    """The hourly store and the last dashboard answer against a DuckDB
    recompute over the fixture plus every landed batch."""
    ing = rec["ingest"]
    con = duck()
    files = ", ".join(f"'{b['path']}'" for b in batches[:ing["batches_landed"]])
    con.execute(f"""CREATE VIEW ev AS
        SELECT ts, user_id, event_type, value FROM read_parquet('{fixture_events}')
        UNION ALL
        SELECT ts, user_id, event_type, value FROM read_json([{files}],
          format='newline_delimited', columns={{event_id: 'BIGINT', ts: 'TIMESTAMP',
          user_id: 'BIGINT', event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}})""")
    bad = []
    hourly_want = result_fp(con, """SELECT strftime(ts, '%Y%m%d') AS yyyymmdd,
        date_trunc('hour', ts) AS hour, event_type, user_id,
        sum(CAST(round(value * 100) AS BIGINT)) AS sum_value FROM ev GROUP BY ALL""")
    hourly_got = result_fp(con, f"""SELECT CAST(yyyymmdd AS VARCHAR) AS yyyymmdd, hour,
        event_type, user_id, sum_value
        FROM read_parquet('{ing['hourly']}/*/*.parquet', hive_partitioning = true)""")
    if hourly_want != hourly_got:
        bad.append("land_batch: hourly store differs from the DuckDB recompute")
    answer_want = result_fp(con, """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        event_type, round(sum(round(value * 100)) / 100, 2) AS sum_value, count(*) AS n
        FROM ev GROUP BY ALL""")
    answer_got = result_fp(con, f"SELECT * FROM read_parquet('{ing['last_answer']}/*.parquet')")
    if answer_want != answer_got:
        bad.append("land_batch: last dashboard answer differs from the DuckDB recompute")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=["0.1", "0.001"], help="fixture scale (self-test smoke runs)")
    ap.add_argument("--corrupt", help="drop a row from this query's timed results (self-test)")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    load_at_launch = os.getloadavg()[0]
    steal0 = steal_ticks()

    built_before = os.path.isdir(build.OUT)
    cp = build.build()
    # setup_s starts here: it covers the program's set-up, not its build
    t_setup = time.time()
    # the first run in a checkout builds; later runs must end within 180 s
    deadline = T_START + (900 if not built_before else 175)

    sf = args.sf or w["sf"]
    data = os.path.join(FIXTURE, f"sf{sf}")
    events = os.path.join(data, "events.parquet")
    if not os.path.isfile(events):
        raise RuntimeError(f"no fixture at {data}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    batch_paths = [os.path.join(work, "batches", f"batch_{k:04d}.json.gz")
                   for k in range(w.get("batches", 0))]
    jvm_args = ["--workload", args.workload, "--data", data, "--work", work,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--cpus", str(len(os.sched_getaffinity(0))),
                "--out", os.path.join(work, "record.json")]
    if "queries" in w:
        jvm_args += ["--queries", ",".join(w["queries"])]
    if batch_paths:
        jvm_args += ["--batches", ",".join(batch_paths)]
    if args.corrupt:
        jvm_args += ["--corrupt", args.corrupt]
    # the session starts while the inputs are written; the JVM waits for
    # inputs.ready before it reads any
    jvm = start_jvm(cp, work, jvm_args)
    try:
        t_in = time.time()
        batches = []
        if batch_paths:
            batches = gen.write_batches(os.path.join(work, "batches"), args.seed, events,
                                        len(batch_paths), w["late_share"])
        py_inputs_s = time.time() - t_in
        open(os.path.join(work, "inputs.ready"), "w").close()
        wait_jvm(jvm, work, deadline)
        with open(os.path.join(work, "record.json")) as f:
            rec = json.load(f)

        ops = rec["ops"]
        errors = [o["error"] for o in ops if not o["ok"]]
        if "queries" in w:
            bad = check_queries(rec)
            errors += [bad[o["q"]] for o in ops if o["ok"] and o["q"] in bad]
        else:
            bad = check_ingest(rec, events, batches)
            errors += bad
        failed = sum(1 for o in ops if not o["ok"]) + \
            sum(1 for o in ops if o["ok"] and (o["q"] in bad if "queries" in w else bad))
        attempted = max(1, len(ops))
        lat = [o["wall_ms"] for o in ops if o["ok"]]
        loop_s = rec["loop_s"] or 1e-9
        if "batches" in w:
            rows = sum(batches[o["batch"]]["rows"] for o in ops if o["ok"])
            rows_s = loop_s
        else:
            # whole passes only: one query returns most of a pass's rows, so
            # a partial pass would make the rate depend on which queries it held
            full = len(ops) // len(w["queries"]) * len(w["queries"])
            rows = sum(o["rows"] for o in ops[:full] if o["ok"])
            rows_s = ops[full - 1]["end_s"]
        tail_ms, tail_pct, n = metrics.tail(lat)
        setup = {"session_s": rec["session_s"], "inputs_s": py_inputs_s + rec["jvm_inputs_s"],
                 "warmup_s": rec["warmup_s"]}
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": sf,
            "load_at_launch": load_at_launch,
            "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
            "samples": n, "tail_percentile": tail_pct, "errors": errors,
            "failed_op_frac": failed / attempted, "setup": setup,
            "setup_steps_s": rec.get("setup_steps_s"),
            "warmup_ms": {q: r.get("warmup_ms") for q, r in rec.get("queries", {}).items()},
            "batches": [{k: b[k] for k in ("rows", "bytes", "late_share")} for b in batches],
            "ops": ops,
        }
        if args.trace:
            with open(rec["spans"]) as f:
                spans = [json.loads(line) for line in f]
            os.makedirs(WORK_ROOT, exist_ok=True)
            shutil.copy(rec["spans"], os.path.join(
                WORK_ROOT, f"spans-{args.workload}-s{args.seed}.jsonl"))
            landed = [batches[o["batch"]]["bytes"] for o in ops if "batch" in o]
            out = metrics.per_layer(spans, rec["cpus"], setup, sum(landed))
            detail["op_spans_ms"] = metrics.op_breakdown(spans)
            units = {}
        else:
            out = {
                "setup_s": rec["first_op_epoch_ms"] / 1e3 - t_setup,
                "op_p50_ms": metrics.p50(lat),
                "op_tail_ms": tail_ms,
                "ops_per_s": len(ops) / loop_s,
                "rows_per_s": rows / rows_s,
                "live_heap_mb": rec["live_heap_mb"],
            }
            units = UNITS
        detail["metrics"] = out
        os.makedirs(WORK_ROOT, exist_ok=True)
        with open(os.path.join(WORK_ROOT, f"detail-{args.workload}-s{args.seed}-t{args.trace}.json"),
                  "w") as f:
            json.dump(detail, f, indent=1)
        for e in errors[:20]:
            print(f"# FAILED {e}")
        print(f"# {args.workload} seed={args.seed} ops={len(ops)} tail=p{tail_pct:.1f} of {n} "
              f"load_at_launch={load_at_launch:.2f} steal_s={detail['steal_s']:.2f}")
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k, metric_unit(k))}
                        for k, v in out.items()},
        }
        print(json.dumps(result))
    finally:
        stop_jvm(jvm)
        shutil.rmtree(work, ignore_errors=True)


def metric_unit(name):
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "ms": "ms", "mb": "MB"}.get(suffix, "ratio" if name.endswith(
        ("share", "ratio", "frac", "amp")) else "count")


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        sys.exit(f"perfbench: {e}")
