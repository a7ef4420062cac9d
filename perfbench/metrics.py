"""Metric arithmetic and result normalization, kept free of I/O so the
self-test can exercise it directly."""
import datetime
import decimal
import hashlib
import statistics


def p50(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """Latency at the highest percentile that has at least 10 samples
    beyond it: the 11th-largest sample. Returns (value, percentile, n).

    With 10 samples or fewer no percentile qualifies, and the largest
    sample is returned with percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


def _canon(v):
    if v is None:
        return "\0"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return f"{v}.000000"
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return str(v)
        return f"{round(v, 6) + 0.0:.6f}"
    if isinstance(v, decimal.Decimal):
        return str(v.quantize(decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_EVEN))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(columns, rows):
    """md5 of a result with columns sorted by name, numbers rounded to 6
    decimals and rows sorted: the form both engines' answers are compared
    in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    md = hashlib.md5()
    for line in lines:
        md.update((line + "\n").encode())
    return md.hexdigest()


def union_us(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def op_breakdown(spans):
    """Per timed op: each span's duration in ms, plus the op span's self
    time (its duration minus its children's) as `unattributed`."""
    out = {}
    for s in spans:
        if s["op"] >= 0:
            d = out.setdefault(s["op"], {})
            d[s["name"]] = d.get(s["name"], 0) + (s["end_us"] - s["start_us"]) / 1e3
    for d in out.values():
        d["unattributed"] = d["op"] - sum(v for k, v in d.items() if k != "op")
    return [out[k] for k in sorted(out)]


def per_layer(spans, cores, setup, batch_bytes):
    """Per-layer metrics from the timed ops' spans (op id >= 0)."""
    ops = {}
    for s in spans:
        if s["op"] >= 0:
            ops.setdefault(s["op"], []).append(s)
    n = max(1, len(ops))

    def named(name):
        return [s for ss in ops.values() for s in ss if s["name"] == name]

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1e3

    def total(spans_, key):
        return sum(s[key] for s in spans_)

    roots = named("op")
    wall = sum(dur_ms(s) for s in roots) or 1.0
    construct, plan, collect = named("construct"), named("plan"), named("collect")
    # inside collect: jobs run (execution); before the last job ends, the
    # time between jobs is AQE re-planning; after it, rows reach the driver
    exec_ms, adaptive_ms, fetch_ms = [], [], []
    for s in collect:
        e = union_us(s["job_intervals_us"], s["start_us"], s["end_us"]) / 1e3
        last = max([min(b, s["end_us"]) for _, b in s["job_intervals_us"]] + [s["start_us"]])
        exec_ms.append(e)
        adaptive_ms.append(max(0.0, (last - s["start_us"]) / 1e3 - e))
        fetch_ms.append((s["end_us"] - last) / 1e3)
    # the engine's Rollup calls; the raw append before them is the
    # benchmark's own write and is reported apart, as sink.raw_append_ms
    writers = named("rollup.refresh_additive") + named("rollup.refresh_ladder")
    rollup = writers + named("rollup.register")
    commits = len(named("rollup.refresh_additive")) + 3 * len(named("rollup.refresh_ladder"))
    every = [s for ss in ops.values() for s in ss]
    children = {}
    for s in every:
        children.setdefault(s["parent"], []).append(s)
    unattributed = sum(dur_ms(r) - sum(dur_ms(c) for c in children.get(r["id"], []))
                       for r in roots)
    nav = [r["nav_hit"] for r in roots if "nav_hit" in r]
    exec_total = sum(exec_ms)
    task_run_ms = total(collect, "task_run_ms")
    mb = 1 / 1048576
    return {
        "setup.session_s": setup["session_s"],
        "setup.inputs_s": setup["inputs_s"],
        "setup.warmup_s": setup["warmup_s"],
        "trace.op_p50_ms": p50([dur_ms(s) for s in roots]),
        "trace.unattributed_share": unattributed / wall,
        "construct.p50_ms": p50([dur_ms(s) for s in construct]),
        "construct.share": sum(dur_ms(s) for s in construct) / wall,
        "construct.jobs_per_op": total(construct, "jobs") / n,
        "sources.jobs_per_op": total(every, "source_jobs") / n,
        "sources.read_ms": (total(every, "source_job_ms")
                            + sum(dur_ms(s) for s in named("sources.read"))) / n,
        "catalyst.analysis_ms": sum(s.get("analysis_ms", 0) for s in plan) / n,
        "catalyst.optimization_ms": sum(s.get("optimization_ms", 0) for s in plan) / n,
        "catalyst.planning_ms": sum(s.get("planning_ms", 0) for s in plan) / n,
        "plans.p50_ms": p50([dur_ms(s) for s in plan]),
        "plans.share": sum(dur_ms(s) for s in plan) / wall,
        "plans.adaptive_ms": sum(adaptive_ms) / n,
        "plans.nav_hit_ratio": sum(nav) / len(nav) if nav else 0.0,
        "exec.p50_ms": p50(exec_ms),
        "exec.share": exec_total / wall,
        "exec.jobs_per_op": total(collect, "jobs") / n,
        "exec.stages_per_op": total(collect, "stages") / n,
        "exec.tasks_per_op": total(collect, "tasks") / n,
        "exec.task_run_s": task_run_ms / 1e3 / n,
        "exec.task_cpu_s": total(collect, "task_cpu_ns") / 1e9 / n,
        "exec.gc_s": total(collect, "gc_ms") / 1e3 / n,
        "exec.core_busy_frac": task_run_ms / (exec_total * cores) if exec_total else 0.0,
        "exec.shuffle_read_mb": total(collect, "shuffle_read_b") * mb / n,
        "exec.shuffle_write_mb": total(collect, "shuffle_write_b") * mb / n,
        "exec.spill_mb": total(collect, "spill_b") * mb / n,
        "exec.peak_exec_mem_mb": max([s["peak_mem_b"] for s in collect] or [0]) * mb,
        "fetch.p50_ms": p50(fetch_ms),
        "fetch.share": sum(fetch_ms) / wall,
        "rollup.share": sum(dur_ms(s) for s in rollup) / wall,
        "rollup.refresh_additive_ms": sum(dur_ms(s) for s in named("rollup.refresh_additive")) / n,
        "rollup.refresh_ladder_ms": sum(dur_ms(s) for s in named("rollup.refresh_ladder")) / n,
        "rollup.register_ms": sum(dur_ms(s) for s in named("rollup.register")) / n,
        "rollup.write_amp": total(writers, "bytes_written") / batch_bytes if batch_bytes else 0.0,
        "rollup.files_per_commit": sum(r.get("files_new", 0) for r in roots) / commits
        if commits else 0.0,
        "rollup.partitions_rewritten_per_commit":
            sum(r.get("partitions_new", 0) for r in roots) / commits if commits else 0.0,
        "rollup.store_files_end": max([r.get("store_files", 0) for r in roots] or [0]),
        "rollup.jobs_per_commit": total(writers, "jobs") / commits if commits else 0.0,
        "sink.raw_append_ms": sum(dur_ms(s) for s in named("sink.raw_append")) / n,
    }
