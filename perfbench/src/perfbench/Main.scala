package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftSession, SparkEntry}
import graft.functions.TimeFns
import graft.ops.{CacheRegistry, Normalize, Rollup}
import graft.sources.Tables

/** JVM side of the benchmark: builds the workload's engine-side inputs,
  * warms up, then runs a closed loop of ops with one client until
  * the time budget is spent, and writes a run record for `run.py`.
  *
  * Ops call the engine only through its public functions. Each op fetches
  * its full result with `collect()` on the Dataset the engine returned.
  *
  * Usage: perfbench.Main --workload W --data DIR --work DIR --seed N
  *   --seconds S --trace 0|1 --cpus C --out FILE [--queries q1,q2,..]
  *   [--batches f1,f2,..] [--corrupt QUERY]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(a("cpus")).getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // run.py writes the inputs while the session starts, then this file
    val ready = Paths.get(a("work"), "inputs.ready")
    while (!Files.exists(ready)) Thread.sleep(20)
    val runner = new Runner(spark, a)
    val rec = a("workload") match {
      case "aql_dashboard" => runner.queryWorkload()
      case "ingest_rollup" => runner.ingestWorkload()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spansPath = s"${a("work")}/spans.jsonl"
    if (runner.tracer.enabled) {
      runner.tracer.drain()
      runner.tracer.writeJsonLines(spansPath)
    }
    val out = scala.collection.immutable.ListMap((Seq[(String, Any)](
      "workload" -> a("workload"), "cpus" -> a("cpus").toInt, "session_s" -> sessionS,
      "spans" -> spansPath) ++ rec): _*)
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }
}

/** The workloads, their set-up and the timed loop, over one session. */
final class Runner(spark: SparkSession, a: Map[String, String]) {
  val tracer = new Tracer(spark.sparkContext, a("trace") == "1")
  private val work = a("work")
  private val seed = a("seed").toLong
  private val budgetNs = (a("seconds").toDouble * 1e9).toLong
  private val corrupt = a.get("corrupt")
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var liveHeapMb = 0.0
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var firstOpEpochMs = 0L
  private var loopStartNs = 0L
  private var loopNs = 0L

  private def secondsSince(t: Long) = (System.nanoTime() - t) / 1e9

  /** graft.Bench's hygiene between ops, then the retained heap it leaves. */
  private def clean(): Unit = {
    CacheRegistry.drain()
    spark.catalog.clearCache()
    System.gc()
    liveHeapMb = math.max(liveHeapMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  private def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)}"

  /** Timed closed loop: at least `minOps` ops, then `op(i)` until the
    * budget is spent or `maxOps` ops ran. The budget is checked before
    * every op, so the op count, and the rank the tail is read at, grow
    * smoothly with the ops' speed. */
  private def loop(minOps: Int, maxOps: Int)(op: Int => Unit): Unit = {
    firstOpEpochMs = System.currentTimeMillis()
    loopStartNs = System.nanoTime()
    var i = 0
    while ((i < minOps || System.nanoTime() - loopStartNs < budgetNs) && i < maxOps) {
      op(i)
      i += 1
    }
    loopNs = System.nanoTime() - loopStartNs
  }

  private def common: Seq[(String, Any)] = Seq(
    "first_op_epoch_ms" -> firstOpEpochMs, "loop_s" -> loopNs / 1e9,
    "live_heap_mb" -> liveHeapMb, "ops" -> ops.toSeq)

  /** Construct, plan and fetch one query result, one span each. */
  private def query(op: Int, build: => DataFrame): (DataFrame, Array[Row]) = {
    val df = tracer.span(op, "construct")(build)
    tracer.span(op, "plan")(df.queryExecution.executedPlan)
    (df, tracer.span(op, "collect")(df.collect()))
  }

  /** [[query]] as one op: returns the Dataset, its rows and the op's wall
    * time. */
  private def runQuery(op: Int, build: => DataFrame): (DataFrame, Array[Row], Double) = {
    val t = System.nanoTime()
    val (df, rows) = tracer.span(op, "op")(query(op, build))
    (df, rows, (System.nanoTime() - t) / 1e6)
  }

  /** Trace-only annotations read from the Dataset that was timed. */
  private def annotate(op: Int, df: DataFrame, navRaw: Option[String]): Unit = if (tracer.enabled) {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      tracer.annotate(op, "plan", s"${p}_ms",
        phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L))
    }
    navRaw.foreach(raw => tracer.annotate(op, "op", "nav_hit", navHit(df.queryExecution.optimizedPlan, raw)))
  }

  /** A navigable op hits when its optimized plan reads a ladder rung and
    * scans no raw events. */
  private def navHit(plan: LogicalPlan, raw: String): Boolean = {
    val roots = plan.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }
    val rung = "/(hourly|daily|monthly)(/|$)".r
    roots.nonEmpty && roots.forall(p => !p.contains(raw)) && roots.exists(p => rung.findFirstIn(p).isDefined)
  }

  // ---------------------------------------------------------------- queries

  /** aql_dashboard: a fixed query mix, two warm-up passes in list order
    * (the first one's results are checked against the oracle), then timed
    * ops, each pass over the mix in a seeded order. */
  def queryWorkload(): Seq[(String, Any)] = {
    val names = a("queries").split(',').toSeq
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val dir = a("data")
    val navigable = (q: String) => q.startsWith("q_a2_nav") || q == "q_a2_reagg_navigated"
    val rawEvents = s"$dir/events.parquet"
    val refs = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]

    val tWarm = System.nanoTime()
    names.foreach { q =>
      val res = try {
        val (df, rows, ms) = runQuery(-1, fns(q)(spark, dir))
        val path = s"$work/results/$q"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        Map[String, Any]("fp" -> Fingerprint.of(df.schema, rows), "rows" -> rows.length,
          "result" -> path, "warmup_ms" -> ms)
      } catch { case e: Throwable => Map[String, Any]("error" -> s"$q: ${oneLine(e)}") }
      refs(q) = res + ("oracle" -> oracles.get(q).orNull)
      clean()
    }
    // a second pass lets the JIT reach steady state before timing: the
    // first timed pass ran 15-20% slower than the next one without it
    names.foreach { q =>
      try runQuery(-1, fns(q)(spark, dir)) catch { case _: Throwable => () }
      clean()
    }
    val warmupS = secondsSince(tWarm)

    // one whole pass at least: every query is timed in every run
    loop(names.size, Int.MaxValue) { i =>
      val order = new scala.util.Random(seed * 1000003L + i / names.size).shuffle(names)
      val q = order(i % names.size)
      val rec = try {
        val (df, rows0, ms) = runQuery(i, fns(q)(spark, dir))
        val rows = if (corrupt.contains(q)) rows0.dropRight(1) else rows0
        val fp = Fingerprint.of(df.schema, rows)
        annotate(i, df, if (navigable(q)) Some(rawEvents) else None)
        val ok = refs(q).get("fp").contains(fp)
        Map[String, Any]("q" -> q, "wall_ms" -> ms, "ok" -> ok, "rows" -> rows.length,
          "error" -> (if (ok) null else s"$q: result fingerprint differs from the checked one"))
      } catch {
        case e: Throwable => Map[String, Any]("q" -> q, "ok" -> false, "error" -> s"$q: ${oneLine(e)}")
      }
      clean()
      tracer.drain()
      ops += rec + ("navigable" -> navigable(q)) + ("end_s" -> secondsSince(loopStartNs))
    }
    Seq("jvm_inputs_s" -> 0.0, "warmup_s" -> warmupS, "data_dir" -> dir,
      "queries" -> refs) ++ common
  }

  // ----------------------------------------------------------------- ingest

  private val batchSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val hourlyKeys = Seq("hour", "event_type", "user_id")

  /** The hourly SummingMergeTree delta: integer cents summed per
    * (day partition, hour, event type, user). */
  private def hourlyDelta(ev: DataFrame): DataFrame =
    Rollup.hourly(ev.select(col("ts"), col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents")),
        "ts", "value_cents", Seq("event_type", "user_id"))
      .withColumn("yyyymmdd", TimeFns.toYYYYMMDD(col("hour")))

  /** The daily dashboard over the whole raw store, navigable to the
    * ladder's daily rung. */
  private def dashboard(raw: DataFrame): DataFrame =
    raw.groupBy(date_trunc("day", col("ts")).as("day0"), col("event_type"))
      .agg(sum("value").as("sv"), count(lit(1)).as("n"))
      .select(date_format(col("day0"), "yyyy-MM-dd").as("day"), col("event_type"),
        round(col("sv"), 2).as("sum_value"), col("n"))

  private def storeFiles(root: String): Set[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
  }

  def ingestWorkload(): Seq[(String, Any)] = {
    val batches = a("batches").split(',').toSeq
    val store = s"$work/store"
    val hourlyPath = s"$store/hourly"
    val ladderPath = s"$store/ladder"
    val rawPath = s"$store/events.parquet"
    val ladder = Rollup.StatsLadder(ladderPath, "ts", "value", Seq("event_type"),
      exactSumScale = Some(2))
    // the stores the Rollup writers commit to
    def rollupFiles(): Set[String] = storeFiles(hourlyPath) ++ storeFiles(ladderPath)

    val tIn = System.nanoTime()
    val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime(); body; steps(name) = secondsSince(t)
    }
    val fixture = Normalize.addDateColsFromTs(Tables.events(spark, a("data")), "ts")
    step("raw")(Rollup.writePartitionedByDay(fixture, "ts", rawPath))
    step("hourly")(Rollup.refreshAdditive(spark, hourlyPath, hourlyDelta(fixture), "yyyymmdd",
      hourlyKeys, Seq("sum_value")))
    step("ladder")(Rollup.buildStatsLadder(spark, Tables.events(spark, store), ladder))
    step("register")(Rollup.registerStatsLadder(spark, Tables.events(spark, store), ladder))
    clean()
    val inputsS = secondsSince(tIn)

    var lastAnswer: (DataFrame, Array[Row]) = null
    /** Land batch `k` and answer the dashboard; returns the op wall time. */
    def land(op: Int, k: Int): Double = {
      val t = System.nanoTime()
      tracer.span(op, "op") {
        val batch = tracer.span(op, "sources.read") {
          Normalize.addDateColsFromTs(
            Tables.readJsonUnioned(spark, batches(k), Some(batchSchema)), "ts")
        }
        // the raw append is the benchmark's stand-in for the reference's
        // append to its raw table: Rollup.writePartitionedByDay overwrites
        tracer.span(op, "sink.raw_append") {
          batch.withColumn("yyyymmdd", TimeFns.toYYYYMMDD(col("ts")))
            .repartition(col("yyyymmdd"))
            .write.mode("append").partitionBy("yyyymmdd").parquet(rawPath)
        }
        tracer.span(op, "rollup.refresh_additive") {
          Rollup.refreshAdditive(spark, hourlyPath, hourlyDelta(batch), "yyyymmdd", hourlyKeys,
            Seq("sum_value"))
        }
        tracer.span(op, "rollup.refresh_ladder")(Rollup.refreshStatsLadder(spark, batch, ladder))
        tracer.span(op, "rollup.register") {
          Rollup.registerStatsLadder(spark, Tables.events(spark, store), ladder)
        }
        lastAnswer = query(op, dashboard(Tables.events(spark, store)))
      }
      (System.nanoTime() - t) / 1e6
    }

    // two warm-up batches: with one, the first timed op ran ~20% faster
    // than the ones after it
    val warm = 2
    val tWarm = System.nanoTime()
    (0 until warm).foreach { k => land(-1, k); clean() }
    val warmupS = secondsSince(tWarm)

    var landed = warm
    loop(1, batches.size - warm) { i =>
      val k = i + warm
      val before = if (tracer.enabled) rollupFiles() else Set.empty[String]
      val rec = try {
        val ms = land(i, k)
        annotate(i, lastAnswer._1, Some(rawPath))
        Map[String, Any]("q" -> "land_batch", "batch" -> k, "wall_ms" -> ms, "ok" -> true,
          "rows" -> lastAnswer._2.length)
      } catch {
        case e: Throwable => Map[String, Any]("q" -> "land_batch", "batch" -> k, "ok" -> false,
          "error" -> s"land_batch $k: ${oneLine(e)}")
      }
      landed = k + 1
      clean()
      tracer.drain()
      if (tracer.enabled) {
        val after = rollupFiles()
        val fresh = after -- before
        tracer.annotate(i, "op", "files_new", fresh.size)
        tracer.annotate(i, "op", "partitions_new",
          fresh.map(p => Paths.get(p).getParent.toString).size)
        tracer.annotate(i, "op", "store_files", after.size)
      }
      ops += rec + ("navigable" -> true)
    }

    val answerPath = s"$work/results/last_answer"
    val (adf, arows) = lastAnswer
    spark.createDataFrame(java.util.Arrays.asList(arows: _*), adf.schema)
      .coalesce(1).write.mode("overwrite").parquet(answerPath)
    Seq("jvm_inputs_s" -> inputsS, "setup_steps_s" -> steps, "warmup_s" -> warmupS,
      "ingest" -> Map("hourly" -> hourlyPath, "batches_landed" -> landed,
        "last_answer" -> answerPath)) ++ common
  }
}

/** Order-free digest of a result: columns by name, rows sorted, doubles
  * rounded to 6 decimals. Two ops of one query must agree on it. */
object Fingerprint {
  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
