package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.sources.Tables

/** The engine's core aggregation (SURVEY §2.4 A1-A3): the ClickHouse
  * SummingMergeTree hourly rollup, computed by the engine instead of
  * delegated to storage.
  *
  * Reference semantics (clickhouse/clickhouse.py:70-81, helpers.py:181-190):
  * group by `toStartOfHour(Start_Time)` plus EVERY non-measure column,
  * SUM the `Event_Count` measure; day-partitioned by `toYYYYMMDD`.
  *
  * Scale notes: `groupBy().sum()` plans as partial HashAggregate (map-side
  * combine) -> single shuffle on the group key -> final HashAggregate, which
  * is exactly the distributed form of SummingMergeTree's incremental merge.
  * Output cardinality is O(distinct hourly keys), not O(events), so the
  * shuffle carries pre-aggregated rows. Re-aggregation (sum of sums) is
  * associative, so daily/weekly re-rollups of the hourly table never touch
  * raw events again (A2).
  */
object Rollup {

  /** Batch hourly rollup. `dims` defaults to every column except the time
    * and measure columns (the SummingMergeTree "all dimensions" key,
    * helpers.py:186-190).
    */
  def hourly(df: DataFrame, tsCol: String, measureCol: String,
             dims: Seq[String] = Seq.empty,
             hourColName: String = "hour",
             sumColName: String = "sum_value"): DataFrame = {
    val dimCols =
      if (dims.nonEmpty) dims
      else df.columns.toSeq.filterNot(c => c == tsCol || c == measureCol)
    df.groupBy(
        (TimeFns.toStartOfHour(col(tsCol)).as(hourColName) +: dimCols.map(c => col(s"`$c`"))): _*)
      .agg(sum(col(s"`$measureCol`")).as(sumColName))
  }

  /** Hourly rollup carrying the FULL re-aggregable partial set — sum,
    * count, min, max per (hour, dims) — the artifact
    * [[graft.plans.RollupNavigation]] serves SUM/COUNT/MIN/MAX/AVG
    * dashboards from (AVG recombines as Σsum/Σcnt). Same one-shuffle
    * partial-aggregate plan as [[hourly]]; the three extra columns cost
    * bytes, not passes.
    */
  /** Per-extra-measure partial column names (suffix convention shared
    * with [[graft.plans.RollupNavigation]]'s `extraMeasures`). */
  private[graft] def extraMeasureCols(m: String): (String, String, String, String) =
    (s"sum_$m", s"cnt_measure_$m", s"min_$m", s"max_$m")

  /** The quantized BIGINT sum partial (see `exactSumScale`): `round` ties
    * away from zero, but a genuinely `s`-decimal measure is never a tie —
    * its scaled double sits within ulps of the integer. */
  private def qsum(m: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column =
    sum(round(m * lit(math.pow(10, s))).cast("long")).as("sum_q")

  /** When `exactSumScale = Some(s)`, the store also carries `sum_q` — the
    * BIGINT sum of the measure quantized to `s` decimals (`Σ
    * round(measure·10^s)`). Integer partials recombine EXACTLY under any
    * re-association (rung climbs, O(delta) refresh, navigation), so the
    * AVG a dashboard recombines from them is bit-deterministic — the
    * double `sum_value` partial's last-ulp drift under a different
    * summation tree can flip a round-at-display digit when the quotient
    * sits on a rounding boundary (the engine-wide integer-quantized-sums
    * discipline; only valid when the measure IS `s`-decimal data).
    */
  def hourlyStats(df: DataFrame, tsCol: String, measureCol: String,
                  dims: Seq[String] = Seq.empty,
                  hourColName: String = "hour",
                  kmvOf: Option[(org.apache.spark.sql.Column, Int)] = None,
                  extraMeasures: Seq[String] = Nil,
                  exactSumScale: Option[Int] = None): DataFrame = {
    // inferred dims must exclude EVERY measure — sweeping an extra
    // measure into the group-by key would yield degenerate partials
    // (sum_em == em * cnt per group) that navigation would happily serve
    val dimCols =
      if (dims.nonEmpty) dims
      else df.columns.toSeq.filterNot(c =>
        c == tsCol || c == measureCol || extraMeasures.contains(c))
    val m = col(s"`$measureCol`")
    val aggs = Seq(sum(m).as("sum_value"), count(lit(1)).as("cnt"),
      // non-null measure count: the AVG-navigation denominator (and the
      // COUNT(measure) partial) — COUNT(*) would over-count the moment
      // the measure column admits a null
      count(m).as("cnt_measure"),
      min(m).as("min_value"), max(m).as("max_value")) ++
      // additional measures: a real summary table carries partials for
      // EVERY dashboard measure, not one — suffixed columns per measure
      extraMeasures.flatMap { em =>
        val (s_, cm, mn, mx) = extraMeasureCols(em)
        val c = col(s"`$em`")
        Seq(sum(c).as(s_), count(c).as(cm), min(c).as(mn), max(c).as(mx))
      } ++
      // optional KMV distinct-sketch partial: per-bucket k-minima of the
      // given (pre-hashed Long) column — merging partials is EXACT, so
      // distinct-count dashboards navigate too (KmvMergeAggregator)
      kmvOf.map { case (c, k) => graft.functions.Kmv.kMinima(c, k).as("kmv_minima") } ++
      exactSumScale.map(s => qsum(m, s))
    df.groupBy(
        (TimeFns.toStartOfHour(col(tsCol)).as(hourColName) +: dimCols.map(c => col(s"`$c`"))): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[hourlyStats]] at an arbitrary `date_trunc` grain — one rung of the
    * summary LADDER ([[graft.plans.RollupNavigation]]'s grain selection):
    * hourly + daily + monthly stats stores registered side by side let a
    * yearly dashboard read the monthly store (~720× fewer rows than
    * hourly over the same span). Same one-shuffle partial-aggregate plan;
    * coarser rungs are usually built FROM the next-finer store via
    * [[reaggregateStats]], never from raw again.
    */
  def statsAtGrain(df: DataFrame, tsCol: String, measureCol: String,
                   dims: Seq[String], grain: String,
                   timeColName: String = "bucket",
                   exactSumScale: Option[Int] = None): DataFrame = {
    val m = col(s"`$measureCol`")
    val aggs = Seq(sum(m).as("sum_value"), count(lit(1)).as("cnt"),
      count(m).as("cnt_measure"),
      min(m).as("min_value"), max(m).as("max_value")) ++
      exactSumScale.map(s => qsum(m, s))
    df.groupBy(
        (date_trunc(grain, col(s"`$tsCol`")).as(timeColName) +: dims.map(c => col(s"`$c`"))): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Re-aggregate a stats rollup to a coarser grain WITHOUT touching raw:
    * every partial re-composes (sum of sums, sum of counts, min of mins,
    * max of maxes) — the property that makes the ladder's upper rungs
    * O(next-finer store), not O(events).
    */
  /** The stats partials' MERGE aggregates — every one is re-aggregable
    * (merge(old, delta) == partial of the union), which is what makes
    * both coarser-rung derivation and O(delta) refresh exact. */
  private def statsMergeAggs(kmvK: Option[Int],
                             extraMeasures: Seq[String] = Nil,
                             hasQsum: Boolean = false): Seq[org.apache.spark.sql.Column] =
    Seq(
      sum(col("sum_value")).as("sum_value"), sum(col("cnt")).as("cnt"),
      sum(col("cnt_measure")).as("cnt_measure"),
      min(col("min_value")).as("min_value"),
      max(col("max_value")).as("max_value")) ++
      extraMeasures.flatMap { em =>
        val (s_, cm, mn, mx) = extraMeasureCols(em)
        Seq(sum(col(s_)).as(s_), sum(col(cm)).as(cm),
          min(col(mn)).as(mn), max(col(mx)).as(mx))
      } ++
      kmvK.map(k =>
        graft.functions.Kmv.mergeMinima(col("kmv_minima"), k).as("kmv_minima")) ++
      // BIGINT sums of BIGINT partials: exact under any re-association
      (if (hasQsum) Seq(sum(col("sum_q")).as("sum_q")) else Nil)

  def reaggregateStats(statsDf: DataFrame, timeCol: String, grain: String,
                       dims: Seq[String],
                       outTimeCol: String = "bucket",
                       kmvK: Option[Int] = None,
                       extraMeasures: Seq[String] = Nil,
                       hasQsum: Boolean = false): DataFrame = {
    val aggs = statsMergeAggs(kmvK, extraMeasures, hasQsum)
    statsDf.groupBy(
        (date_trunc(grain, col(s"`$timeCol`")).as(outTimeCol) +: dims.map(c => col(s"`$c`"))): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** O(touched) additive refresh of a partitioned STATS store: merge the
    * delta's partials (same schema as the store) into the touched
    * partitions only — the stats sibling of [[refreshAdditive]], sharing
    * its directory-targeted read + dynamic-overwrite core. `partKeyOf`
    * derives the partition value from the store's time column (the
    * caller's layout choice: days for the hourly rung, months for daily,
    * years for monthly).
    */
  def refreshStatsAdditive(spark: org.apache.spark.sql.SparkSession,
                           path: String, deltaStats: DataFrame,
                           timeCol: String, dims: Seq[String],
                           partCol: String,
                           partKeyOf: org.apache.spark.sql.Column,
                           kmvK: Option[Int] = None,
                           extraMeasures: Seq[String] = Nil,
                           hasQsum: Boolean = false): Unit =
    mergeIntoPartitions(spark, path, deltaStats.withColumn(partCol, partKeyOf),
      partCol, timeCol +: dims, statsMergeAggs(kmvK, extraMeasures, hasQsum))

  /** The summary LADDER as a managed artifact: hourly + daily + monthly
    * stats stores under one base path, partitioned for O(touched)
    * maintenance (hourly by day, daily by month, monthly by year).
    * [[buildStatsLadder]] materializes all rungs (coarser rungs derived
    * from the next-finer store, never from raw); [[refreshStatsLadder]]
    * folds an append-only raw delta into every rung at O(delta) — ONE
    * pass over the delta computes hourly partials, and each coarser
    * rung's delta is re-aggregated from the finer rung's delta partials;
    * [[registerStatsLadder]] (re-)arms [[graft.plans.RollupNavigation]]
    * on all rungs, capturing the raw store's current freshness
    * signature. Refresh-then-register is the deployment loop the
    * reference's warehouse runs implicitly via its SummingMergeTree
    * inserts (clickhouse/clickhouse.py:70-81).
    */
  final case class StatsLadder(base: String, tsCol: String, measureCol: String,
      dims: Seq[String],
      kmvOf: Option[(org.apache.spark.sql.Column, Int)] = None,
      extraMeasures: Seq[String] = Nil,
      exactSumScale: Option[Int] = None) {
    def hourlyPath: String = s"$base/hourly"
    def dailyPath: String = s"$base/daily"
    def monthlyPath: String = s"$base/monthly"
  }

  private def pkeyDay(t: org.apache.spark.sql.Column) =
    date_format(t, "yyyyMMdd").cast("int")
  private def pkeyMonth(t: org.apache.spark.sql.Column) =
    date_format(t, "yyyyMM").cast("int")

  def buildStatsLadder(spark: org.apache.spark.sql.SparkSession,
                       raw: DataFrame, ladder: StatsLadder): Unit = {
    armedLadders.remove(ladder.hourlyPath) // store mutates: re-arm fully
    val k = ladder.kmvOf.map(_._2)
    val q = ladder.exactSumScale.nonEmpty
    // cluster by pkey before each dynamic-partition write: the agg output
    // is hash-distributed on (bucket, dims), so every task holds rows of
    // every pkey and an unclustered write commits tasks × days files (the
    // r13 small-files discipline, applied to the build like the refresh).
    // The HOURLY rung additionally salts the clustering (the Ir.build
    // posture): pkey is the DAY, so a single-day raw batch with
    // high-cardinality dims would otherwise funnel the whole hourly
    // aggregate through ONE write task — the exact serialization
    // writePartitionedByDay's exception exists to avoid. Salt = hash of
    // the full group key mod WriteSalt: ≤ Ir.WriteSalt files per day,
    // day-partition writes stay ≤ days × WriteSalt-way parallel. The
    // daily/monthly rungs re-aggregate the hourly rung (≥ 24× / ≥ 720×
    // smaller) — one task per month/year is aggregate-bounded there.
    val hourSalt = pmod(xxhash64(
      (col("hour") +: ladder.dims.map(col)): _*), lit(IncrementalIndex.Ir.WriteSalt))
    hourlyStats(raw, ladder.tsCol, ladder.measureCol, ladder.dims, "hour",
        kmvOf = ladder.kmvOf, extraMeasures = ladder.extraMeasures,
        exactSumScale = ladder.exactSumScale)
      .withColumn("pkey", pkeyDay(col("hour")))
      .repartition(col("pkey"), hourSalt)
      .write.mode("overwrite").partitionBy("pkey").parquet(ladder.hourlyPath)
    reaggregateStats(Tables.parquet(spark, ladder.hourlyPath), "hour", "day",
        ladder.dims, "bucket", k, ladder.extraMeasures, q)
      .withColumn("pkey", pkeyMonth(col("bucket")))
      .repartition(col("pkey"))
      .write.mode("overwrite").partitionBy("pkey").parquet(ladder.dailyPath)
    reaggregateStats(Tables.parquet(spark, ladder.dailyPath), "bucket", "month",
        ladder.dims, "bucket", k, ladder.extraMeasures, q)
      .withColumn("pkey", year(col("bucket")))
      .repartition(col("pkey"))
      .write.mode("overwrite").partitionBy("pkey").parquet(ladder.monthlyPath)
  }

  def refreshStatsLadder(spark: org.apache.spark.sql.SparkSession,
                         delta: DataFrame, ladder: StatsLadder): Unit = {
    armedLadders.remove(ladder.hourlyPath) // store mutates: re-arm fully
    val k = ladder.kmvOf.map(_._2)
    val ems = ladder.extraMeasures
    val q = ladder.exactSumScale.nonEmpty
    // one pass over the delta; coarser rungs re-aggregate the finer
    // rung's DELTA PARTIALS (never raw, never the stores)
    val hd = CacheRegistry.persist(hourlyStats(delta, ladder.tsCol,
      ladder.measureCol, ladder.dims, "hour", kmvOf = ladder.kmvOf,
      extraMeasures = ems, exactSumScale = ladder.exactSumScale))
    val dd = CacheRegistry.persist(
      reaggregateStats(hd, "hour", "day", ladder.dims, "bucket", k, ems, q))
    try {
      refreshStatsAdditive(spark, ladder.hourlyPath, hd, "hour", ladder.dims,
        "pkey", pkeyDay(col("hour")), k, ems, q)
      refreshStatsAdditive(spark, ladder.dailyPath, dd, "bucket", ladder.dims,
        "pkey", pkeyMonth(col("bucket")), k, ems, q)
      refreshStatsAdditive(spark, ladder.monthlyPath,
        reaggregateStats(dd, "bucket", "month", ladder.dims, "bucket", k, ems, q),
        "bucket", ladder.dims, "pkey", year(col("bucket")), k, ems, q)
    } finally { CacheRegistry.release(hd); CacheRegistry.release(dd) }
  }

  /** Per-ladder memo of the rung registration keys last armed: queries call
    * registerStatsLadder on EVERY invocation (clear()-resilience), and the
    * full derivation — three optimized-plan traces + three parquet
    * re-analyses + signature probes — measured ~0.31 s/call at sf0.1
    * (tools.NavOverhead), the bulk of the nav family's fixed cost. When all
    * rung keys are still live the re-arm is a map lookup. build/refresh
    * invalidate (store contents changed ⇒ the cached LogicalRelation's file
    * list is stale); RollupNavigation.clear() empties the registration
    * table, so isLive goes false and the next call re-derives. Keeping the
    * FIRST registration's raw-store signature is also the conservative
    * choice: a raw store that changed after the ladder was built now fails
    * the plan-time freshness probe and falls back to the raw scan, instead
    * of being re-stamped fresh over stale rollup contents.
    *
    * The map is keyed by hourlyPath (what build/refresh invalidate by) but
    * a hit additionally requires the FULL ladder identity to match: two
    * StatsLadder configs sharing an hourly path but differing in
    * dims/measures/kmv must not cross-memo — the second config re-derives
    * and its registration REPLACES the first's (RollupNavigation keys regs
    * by (raw roots, rollup path), so the overwrite is total, not a leak). */
  private val armedLadders =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[String])]

  /** Value-identity of everything that feeds register(); Column has no
    * stable equals, so its expression string stands in. */
  private def ladderIdentity(l: StatsLadder): String = Seq(
    l.base, l.tsCol, l.measureCol, l.dims.mkString(","),
    l.kmvOf.map { case (c, k) => s"${c.toString}#$k" }.getOrElse(""),
    l.extraMeasures.mkString(","), l.exactSumScale.toString).mkString("|")

  def registerStatsLadder(spark: org.apache.spark.sql.SparkSession,
                          raw: => DataFrame, ladder: StatsLadder): Unit = {
    // `raw` is by-name: on a memo hit the caller's (possibly enriched)
    // frame is never even CONSTRUCTED — analysis of a wide enrichment
    // projection was the residual ~0.12 s/call after the memo landed
    val ident = ladderIdentity(ladder)
    if (armedLadders.get(ladder.hourlyPath).exists { case (id, keys) =>
        id == ident && graft.plans.RollupNavigation.isLive(keys) }) return
    val rawDf = raw
    val keys = Seq((ladder.hourlyPath, "hour", "hour"),
        (ladder.dailyPath, "bucket", "day"),
        (ladder.monthlyPath, "bucket", "month")).map { case (p, tc, g) =>
      graft.plans.RollupNavigation.register(spark, rawDf, ladder.tsCol,
        ladder.dims, ladder.measureCol, p, tc, "sum_value",
        cntCol = Some("cnt"), cntMeasureCol = Some("cnt_measure"),
        minCol = Some("min_value"), maxCol = Some("max_value"), grain = g,
        kmv = ladder.kmvOf.map { case (c, kk) => (c, kk, "kmv_minima") },
        extraMeasures = ladder.extraMeasures,
        exactSum = ladder.exactSumScale.map(sc => ("sum_q", sc)))
    }
    armedLadders.put(ladder.hourlyPath, (ident, keys))
  }

  /** A2: re-aggregate an hourly rollup to a coarser grain (sum-of-sums). */
  def reaggregate(hourlyDf: DataFrame, hourCol: String, sumCol: String,
                  grain: String, dims: Seq[String],
                  outTimeCol: String = "bucket"): DataFrame =
    hourlyDf.groupBy(
        (date_trunc(grain, col(hourCol)).as(outTimeCol) +: dims.map(c => col(s"`$c`"))): _*)
      .agg(sum(col(s"`$sumCol`")).as(sumCol))

  /** Skew-safe two-phase sum: pre-aggregate on (keys, salt) so one hot key
    * spreads over `saltBuckets` reducers, then merge partials on the bare
    * keys. For plain algebraic aggregates Spark's map-side partial
    * aggregation usually makes this unnecessary — it matters when the
    * partial-agg hash table overflows on a hot key (high-cardinality
    * secondary grouping) or when an operator lacks partial aggregation
    * (e.g. windows, collect_list). Salt derives from a hash of all columns,
    * so the split is deterministic per row content.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], measureCol: String,
                sumColName: String = "sum_value",
                saltBuckets: Int = 16): DataFrame = {
    val salt = pmod(hash(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*), lit(saltBuckets))
    df.withColumn("__salt", salt)
      .groupBy((keys.map(c => col(s"`$c`")) :+ col("__salt")): _*)
      .agg(sum(col(s"`$measureCol`")).as("__partial"))
      .groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(sum(col("__partial")).as(sumColName))
  }

  /** Sessionization (capability superset of §2.7 windows): split each key's
    * event stream into sessions at inactivity gaps > `gapSeconds`.
    * Gaps-and-islands: lag over (key, ts) marks session starts, a running
    * sum numbers them — two window passes over ONE shuffle on the key
    * (both windows share the (key, ts) sort order, so Catalyst plans a
    * single Exchange+Sort). Streaming form would be
    * `session_window(ts, gap)`; this is the batch equivalent that an
    * oracle can replay.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol))
    val isStart = when(
      unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(byKey)) >
        gapSeconds * 1000000L, 1L)
      .when(lag(col(tsCol), 1).over(byKey).isNull, 1L)
      .otherwise(0L)
    df.withColumn("__new_session", isStart)
      .withColumn("session_id",
        sum(col("__new_session")).over(byKey.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .drop("__new_session")
  }

  /** A3: append-only retention write — day-partitioned parquet, the
    * MergeTree analog (clickhouse/clickhouse.py:35-49). Adds a `yyyymmdd`
    * partition column so readers get day-level partition pruning.
    */
  def writePartitionedByDay(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("yyyymmdd", TimeFns.toYYYYMMDD(col(tsCol)))
      .write.mode("overwrite").partitionBy("yyyymmdd").parquet(path)

  /** Incremental ADDITIVE refresh of a partitioned rollup store — the
    * batch-ETL maintenance shape (nightly delta loads into a day-keyed
    * aggregate table; the reference's pipeline gets this from
    * SummingMergeTree's background merge, clickhouse/clickhouse.py:70-81;
    * this is the engine-native equivalent for plain parquet):
    *
    *  1. aggregate the delta batch to the store's grain;
    *  2. read back ONLY the partitions the delta touches;
    *  3. merge additively (sums/counts re-aggregate exactly — the store
    *     columns must be mergeable measures, the engine-wide discipline)
    *     and dynamically overwrite just those partitions.
    *
    * Work per refresh is O(delta + touched-partition state), never
    * O(store) — with time-correlated deltas (the normal case: late data
    * lands within days, not years) a refresh touches a handful of
    * partitions of an arbitrarily large store. Idempotence caveat: unlike
    * UpsertSink's latest-per-key merge, additive refresh applied twice
    * double-counts — callers running under at-least-once delivery must
    * dedup deltas upstream (exact dedup or the batch-id landing
    * discipline). `localCheckpoint` materializes the merge before the
    * overwrite commits (the read-then-replace rule).
    */
  def refreshAdditive(spark: org.apache.spark.sql.SparkSession, path: String,
                      delta: DataFrame, partCol: String, keyCols: Seq[String],
                      sumCols: Seq[String]): Unit = {
    val agg = sumCols.map(c => sum(col(s"`$c`")).as(c))
    mergeIntoPartitions(spark, path, delta, partCol, keyCols, agg)
  }

  /** Generic O(touched) partition-merge core shared by [[refreshAdditive]]
    * (SUM-only stores) and [[refreshStatsAdditive]] (full stats partials):
    * pre-aggregate the delta on (partCol, keyCols) with `mergeAggs`, read
    * back ONLY the touched partitions (directory-targeted for primitive
    * partition values), re-merge with the same aggregates, and
    * dynamic-overwrite the touched partitions — untouched files are never
    * rewritten. Requires every merge aggregate to be RE-AGGREGABLE
    * (merge(old partial, delta partial) == partial of the union): sums,
    * counts-as-sums, min/max, and KMV sketch merges all are.
    */
  private def mergeIntoPartitions(spark: org.apache.spark.sql.SparkSession,
                                  path: String, delta: DataFrame,
                                  partCol: String, keyCols: Seq[String],
                                  mergeAggs: Seq[org.apache.spark.sql.Column]): Unit = {
    val grain = (partCol +: keyCols).map(c => col(s"`$c`"))
    val agg = mergeAggs
    val d = delta.groupBy(grain: _*).agg(agg.head, agg.tail: _*)
    val touched = d.select(col(s"`$partCol`")).distinct().collect().map(_.get(0))
    if (touched.nonEmpty) {
      // Hadoop FS, not java.io.File: the store lives wherever the
      // warehouse does (HDFS/S3 at scale; local disk here)
      val sp = new org.apache.hadoop.fs.Path(path)
      val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // null-SAFE touched-partition match: isin() is three-valued and
      // never matches stored null-partition rows, so a delta touching
      // the null partition would read back nothing and dynamic
      // overwrite would replace its accumulated state with delta-only
      // sums — silent additive-state loss. <=> matches null to null.
      val touchedPred = touched.toIndexedSeq
        .map(v => col(s"`$partCol`") <=> lit(v)).reduce(_ || _)
      // O(touched) LISTING, not just O(touched) read: `read.parquet(root)`
      // lists EVERY partition directory before pruning — a store-size-
      // dependent metadata cost that dominates the refresh once the store
      // holds years of days (measured: 1.8× at 10× partitions in
      // SinkStress before this). Primitive-valued partitions address
      // their directories straight off (`day=5`); null or non-primitive
      // values fall back to the full listing, where the predicate alone
      // prunes. The filter stays on top either way — directory targeting
      // is an optimization, never the correctness boundary.
      val directDirs: Option[Seq[org.apache.hadoop.fs.Path]] =
        if (touched.forall {
          case _: java.lang.Long | _: java.lang.Integer |
               _: java.lang.Short | _: java.lang.Byte => true
          case _ => false
        }) Some(touched.toIndexedSeq.map(v =>
          new org.apache.hadoop.fs.Path(sp, s"$partCol=$v")))
        else None
      val cur =
        if (fs.exists(sp)) directDirs match {
          case Some(dirs) =>
            // skip dirs holding no data file (a torn dynamic overwrite
            // can leave an empty partition dir; reading it fails with
            // "Unable to infer schema"), and cast the dir-name-inferred
            // partition column back to the delta's type explicitly
            // rather than leaning on unionByName coercion
            val existing = dirs
              .filter(p => fs.exists(p) &&
                fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
              .map(_.toString)
            if (existing.isEmpty) d.limit(0)
            else Tables.parquet(spark, existing, Map("basePath" -> path))
              .withColumn(partCol, col(s"`$partCol`")
                .cast(d.schema(partCol).dataType))
              .filter(touchedPred)
          case None => Tables.parquet(spark, path).filter(touchedPred)
        }
        else d.limit(0)
      // cluster by the partition value before materializing: a dynamic-
      // partition write opens one file per (input partition × partition
      // value) — a 256-partition merge output touching 16 pkeys commits
      // ~4k tiny files, and the file open/commit overhead dominates a
      // small refresh (measured 15x on the Ir tf append, same shape)
      val merged = cur.unionByName(d)
        .groupBy(grain: _*).agg(agg.head, agg.tail: _*)
        .repartition(col(s"`$partCol`"))
      val snap = merged.localCheckpoint(true)
      snap.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(path)
      snap.unpersist(blocking = true)
    }
  }

  /** Small-files MAINTENANCE COMPACTION for a partitioned parquet store —
    * the background merge every append-only ingest layout eventually
    * needs (each micro-batch/append lands its own files; a year of
    * hourly appends is ~10^4 tiny files per partition, and at 100 TB the
    * NameNode/listing cost and per-file open overhead dominate scans —
    * the ClickHouse analog is the MergeTree background merge the
    * reference's warehouse runs implicitly, clickhouse/clickhouse.py:35-49).
    *
    * One shuffle re-clusters rows by the partition value (plus a
    * deterministic row-hash salt when `filesPerPartition` > 1 — content-
    * derived, so the layout is reproducible), then dynamic partition
    * overwrite rewrites each partition's files in place; rows never
    * change, only their file grouping. `localCheckpoint` materializes the
    * shuffle before the overwrite commits (the UpsertSink read-then-
    * replace discipline). Compacting a SUBSET of partitions (the usual
    * incremental maintenance) is the same call with a pre-filtered frame;
    * untouched partitions are never rewritten under dynamic overwrite.
    * Returns (partitions, filesBefore, filesAfter).
    */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                        partCol: String, filesPerPartition: Int = 1): (Long, Long, Long) = {
    require(filesPerPartition >= 1, s"filesPerPartition=$filesPerPartition")
    // Hadoop FS (HDFS/S3-ready) recursive listing for the file census
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Long = {
      var n = 0L
      val it = fs.listFiles(root, true)
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1L }
      n
    }
    val before = dataFiles()
    val df = Tables.parquet(spark, path)
    val dataCols = df.columns.filter(_ != partCol).toIndexedSeq
    val clustered =
      if (filesPerPartition == 1) df.repartition(col(partCol))
      else df.repartition(col(partCol),
        pmod(hash(dataCols.map(c => col(s"`$c`")): _*), lit(filesPerPartition)))
    val snap = clustered.localCheckpoint(true)
    snap.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
    snap.unpersist(blocking = true)
    val parts = fs.listStatus(root)
      .count(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .toLong
    (parts, before, dataFiles())
  }
}
