package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Tables

/** AGGREGATE NAVIGATION — the engine-native analog of the reference's
  * "query the rollup, not raw" architecture (its warehouse delegates
  * hourly aggregation to a SummingMergeTree table and every dashboard
  * query reads the rollup, clickhouse/clickhouse.py:70-81). Here the
  * same navigation is an OPTIMIZER rule: an aggregate over the raw
  * events frame whose grouping is `date_trunc` at hour or coarser plus a
  * subset of the registered rollup's dimensions rewrites onto the
  * MATERIALIZED hourly rollup — sums of hourly sums re-aggregate
  * exactly for integer/decimal measures (double measures re-associate,
  * moving the last ulps — the same contract every distributed double
  * sum in the engine carries, absorbed by the round-at-display
  * discipline), while the scan drops from O(events) to O(hourly keys).
  *
  * Served aggregate shapes (r11 widened beyond SUM — each is the exact
  * re-aggregation of an hourly partial the rollup can carry):
  *  - `SUM(measure)`            → `SUM(sum_col)` (sum of sums; decimal
  *    measures cast the widened re-sum back to the original result type)
  *  - `COUNT(*)` / `COUNT(1)`   → `SUM(cnt_col)` (sum of counts)
  *  - `COUNT(measure)`          → `SUM(cnt_measure_col)` (sum of
  *    non-null counts)
  *  - `MIN(measure)`            → `MIN(min_col)` (min of mins)
  *  - `MAX(measure)`            → `MAX(max_col)` (max of maxes)
  *  - `AVG(measure)`            → `SUM(sum_col) / SUM(cnt_measure_col)`
  *    — the weighted recombination over the NON-NULL measure count
  *    (`Average` ignores null measures, so `COUNT(*)` would be the wrong
  *    denominator the moment the measure column admits a null);
  *    declined for decimal measures, whose result-scale rules the
  *    quotient would not reproduce, and null-guarded so an all-null
  *    group divides by NULL, not by zero (ANSI-safe)
  *  - `COUNT(DISTINCT dim)` → `COUNT(DISTINCT dim)` over the rollup's
  *    rows — exact at any rung (every raw (group, dim-value)
  *    combination survives as a rollup row; nulls ignored identically)
  *  - `kMinima(hash, k)` (KMV distinct sketch, r12) →
  *    `mergeMinima(kmv_col, k)` over stored per-bucket sketch states —
  *    EXACT, not approximate-on-approximate: the union's k smallest
  *    hashes are contained in the union of per-bucket k smallest, so
  *    the merged state (and thus the estimate) is bit-identical to
  *    sketching raw. Distinct-count dashboards never rescan raw.
  * The cnt/cnt-measure/min/max/kmv columns are OPTIONAL registrations —
  * absent columns simply decline their shapes (a sum-only rollup still
  * navigates SUMs).
  *
  * FILTER REPLAY (r11): a `Filter` between the aggregate and the scan no
  * longer always blocks — when every column the predicate references
  * traces to a REGISTERED DIMENSION, the same predicate evaluated over
  * the rollup's dim columns selects exactly the same groups (dims are
  * stored verbatim, hour groups partition rows within dim values), so
  * the filter is replayed on the navigated scan. TIME-RANGE bounds
  * (r12) replay too when GRAIN-ALIGNED: `ts >= L` / `ts < U` with L/U
  * exactly on a serving rung's bucket boundary re-point at the bucket
  * column (a bucket starting before an aligned L holds only rows < L,
  * so the half-open range selects exactly the same partials) — the
  * canonical "dashboard for March" WHERE; alignment is checked by
  * evaluating the engine's own date_trunc at plan time, per rung, so an
  * hour-aligned-only bound is served by the hourly rung while the daily
  * rung declines. Any other reference to a non-dim column (the measure,
  * an unaligned or non-range time predicate), a non-deterministic
  * predicate, or a subquery still stands the rule down — row-level
  * predicates cannot be replayed over pre-aggregated rows.
  *
  * Matching is conservative by construction — every check must pass or
  * the plan is left untouched:
  *  - the aggregate's child must trace to the SAME base relation as the
  *    registered raw frame (file-source root paths equal), through
  *    Project/SubqueryAlias/replayable-Filter nodes only;
  *  - each referenced column (time, dims, measure) must trace to the
  *    SAME canonicalized expression over the base relation as the
  *    registered frame's column (so renames/normalization projections
  *    match, but any semantic drift does not);
  *  - grouping expressions must each be a registered dim or `date_trunc`
  *    at {hour, day, week, month, quarter, year} of the registered time
  *    column (at most one time grouping; ZERO groupings navigate too —
  *    the global dashboard aggregate — as do dims-only groupings, both
  *    exact because the rollup key partitions raw rows);
  *  - aggregates must be the served shapes above (no DISTINCT, no
  *    FILTER clauses);
  *  - the STALENESS GATE: the raw directory's listing signature
  *    (file count, total bytes, max mtime) must equal the signature
  *    captured when the rollup was registered — a landed batch flips the
  *    signature and the rule stands down until re-registration (the
  *    local-FS stand-in for a table format's commit version; wired to
  *    [[graft.ops.Rollup.refreshAdditive]]'s refresh in deployment).
  *    The deep O(files) listing runs at REGISTRATION only; each plan
  *    match re-checks freshness with one shallow `listStatus` per root
  *    (a cheap commit token — see [[rootToken]]), re-listing deeply only
  *    when that token moves. At 100 TB / millions of files the planner
  *    never pays the metadata walk ([[deepListings]] is the spec hook
  *    pinning this).
  *
  * The rewrite keeps every output name AND ExprId (aliases re-point at
  * the rollup's columns under the original ids), so parent operators
  * resolve unchanged — the navigated plan is a drop-in subtree.
  *
  * GRAIN LADDER (r12): several rollups of the SAME raw store register
  * side by side (hourly + daily + monthly — the classic summary
  * hierarchy), each tagged with its `grain`. A query bucket level is
  * servable by a grain iff every bucket is a union of whole grain
  * buckets (hour→all; day→week/month/quarter/year; month→quarter/year;
  * quarter→year; week composes into nothing coarser). Among the
  * registrations that can serve, the COARSEST grain wins — the monthly
  * store is ~720× smaller than the hourly one over the same span, so a
  * yearly dashboard reads hundreds of rows, not millions — with fewest
  * dims as tiebreak. Dims-only and global (no time bucket) aggregates
  * are servable by ANY grain, so they also land on the smallest store.
  */
object RollupNavigation extends Rule[LogicalPlan] {

  /** Canonical `date_trunc` level name (Spark accepts aliases). */
  private def normLevel(l: String): String = l.toLowerCase match {
    case "mon" | "mm" => "month"
    case "dd"         => "day"
    case other        => other
  }

  /** Can a rollup at `grain` serve a query bucketed at `level`? True iff
    * every `level` bucket is a union of whole `grain` buckets: hour
    * composes into everything; days compose into weeks (ISO weeks are
    * day-aligned), months, quarters, years; months into quarters/years;
    * quarters into years. Weeks compose into NOTHING coarser (month
    * boundaries split weeks) and nothing finer serves from them.
    */
  private def serves(grain: String, level: String): Boolean = {
    val g = normLevel(grain); val l = normLevel(level)
    if (g == l) true
    else g match {
      case "hour"    => Set("day", "week", "month", "quarter", "year")(l)
      case "day"     => Set("week", "month", "quarter", "year")(l)
      case "month"   => Set("quarter", "year")(l)
      case "quarter" => l == "year"
      case _         => false // week/year serve only themselves
    }
  }

  /** Coarser grain = fewer rollup rows = cheaper scan; selection prefers
    * the highest rank among the registrations that can serve a query. */
  private val GrainRank = Map(
    "hour" -> 0, "day" -> 1, "week" -> 2, "month" -> 3,
    "quarter" -> 4, "year" -> 5)

  /** The rollup columns carrying one measure's partials. `qSumCol` is the
    * optional quantized BIGINT sum (see `Rollup.hourlyStats`'s
    * `exactSumScale`): when present, AVG recombines from EXACT integer
    * partials — bit-deterministic under any rung/refresh re-association —
    * instead of the double `sum_value` partial whose last ulp floats with
    * the summation tree. */
  final case class MeasureCols(sumCol: String, cntMeasureCol: Option[String],
                               minCol: Option[String], maxCol: Option[String],
                               qSumCol: Option[String] = None, qScale: Int = 0)

  final case class Registration(
      rootPaths: Set[String],
      tsTraced: Expression,
      dimsTraced: Map[String, Expression], // rollup dim col name -> traced raw expr
      // every registered measure: traced raw expression -> its partial
      // columns (a real summary table carries SEVERAL dashboard measures)
      measures: Seq[(Expression, MeasureCols)],
      rollupRelation: LogicalRelation,
      hourCol: String,
      cntCol: Option[String],
      rawSignature: String,
      grain: String,
      // KMV distinct-sketch partials: rollup column holding per-bucket
      // k-minima arrays, its k, and the traced hash-input expression the
      // query-side sketch must match
      kmvCol: Option[String] = None,
      kmvK: Int = 0,
      kmvTraced: Option[Expression] = None)

  private val regs = TrieMap.empty[String, Registration]

  /** Count of DEEP store listings performed (spec hook: a warm
    * registration must plan with zero deep listings). */
  private[graft] val deepListings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Deep listing signature of the raw store (count, bytes, max mtime).
    * O(files) metadata walk — runs at registration and again only when
    * the shallow [[rootToken]] moves; never on a warm per-plan check. */
  private def deepSignature(spark: SparkSession, paths: Set[String]): String = {
    deepListings.incrementAndGet()
    val conf = spark.sparkContext.hadoopConfiguration
    var maxParentDepth = 0
    val sig = paths.toSeq.sorted.map { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val rootDepth = hp.depth()
      var n = 0L; var bytes = 0L; var mt = 0L
      if (fs.exists(hp)) {
        val it = fs.listFiles(hp, true)
        while (it.hasNext) {
          val f = it.next()
          n += 1; bytes += f.getLen; mt = math.max(mt, f.getModificationTime)
          // directory levels between the root and this file (0 = file
          // sits directly in the root) — drives the freshness-token depth
          maxParentDepth = math.max(maxParentDepth,
            f.getPath.depth() - rootDepth - 1)
        }
      }
      s"$p:$n:$bytes:$mt"
    }.mkString(";")
    parentDepth.put(paths.toSeq.sorted.mkString(","), maxParentDepth)
    sig
  }

  /** pathsKey -> deepest directory nesting observed at the last deep
    * listing (how far below the root data files live). Decides how deep
    * the freshness token must look to be unevadable. */
  private val parentDepth = TrieMap.empty[String, Int]

  /** Cheap freshness token, DEPTH-ADAPTIVE to the store layout observed
    * at the last deep listing:
    *  - files directly in the root (`maxParentDepth == 0`, every raw
    *    fixture here): ONE shallow `listStatus` per root — a new/rewritten
    *    part file changes its own (name, len, mtime) entry;
    *  - one partition level (`pkey=X/part-*`, depth 1): still one shallow
    *    listing — a file landing inside `pkey=X` bumps that DIRECT
    *    child's mtime, which the listing carries. The remaining evasion
    *    (an in-place byte overwrite of an existing file that leaves len
    *    and the parent dir untouched) is not a write any Spark/Hadoop
    *    committer performs — the accepted local-FS stand-in bound;
    *  - deeper layouts (`date=/hour=/part-*`, depth >= 2): a leaf append
    *    moves only the LEAF dir's mtime, which no bounded listing sees —
    *    the token falls back to the full recursive signature (correct,
    *    O(files) per plan; a table format's commit version replaces this
    *    in deployment, where such layouts are the norm). */
  private def rootToken(spark: SparkSession, paths: Set[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.toSeq.sorted.map { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      if (!fs.exists(hp)) s"$p:absent"
      else {
        val self = fs.getFileStatus(hp)
        val kids = fs.listStatus(hp).map(st =>
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .sorted.mkString(",")
        s"$p:${self.getModificationTime}[$kids]"
      }
    }.mkString(";")
  }

  // pathsKey -> (rootToken at last deep listing, its deep signature)
  private val sigCache = TrieMap.empty[String, (String, String)]

  /** Current deep signature, served from the token cache: a warm check
    * costs one shallow listStatus per root; only a moved token pays the
    * deep walk (and re-primes the cache, so a stale store stays O(1) to
    * re-detect). */
  private def currentSignature(spark: SparkSession, paths: Set[String]): String = {
    val key = paths.toSeq.sorted.mkString(",")
    // deep layouts (depth >= 2): the recursive signature IS the token —
    // exactly one deep walk per probe, and the cache stays coherent (a
    // shallow token would never match it, forcing a second walk per plan)
    if (parentDepth.get(key).exists(_ >= 2)) {
      val sig = deepSignature(spark, paths)
      sigCache.put(key, (sig, sig))
      return sig
    }
    val tok = rootToken(spark, paths)
    sigCache.get(key) match {
      case Some((t, sig)) if t == tok => sig
      case _ =>
        val sig = deepSignature(spark, paths)
        // the walk may have just DISCOVERED a deep layout; prime the cache
        // with the deep token so the next probe pays one walk, not two
        val cacheTok = if (parentDepth.get(key).exists(_ >= 2)) sig else tok
        sigCache.put(key, (cacheTok, sig))
        sig
    }
  }

  /** Trace `e` through Project/SubqueryAlias/Filter down to an expression
    * over the base file relation, with base attributes POSITION-normalized
    * (BoundReference) so traced expressions compare across plan
    * instances. Filters pass through untouched (they never rebind
    * attributes); whether a filter may sit on the spine at all is the
    * separate replay check in [[tryNavigate]] — EXCEPT at registration
    * (`throughFilters = false`), where a Filter on the spine is a hard
    * reject: a rollup built from a row-filtered frame must never serve an
    * unfiltered (or differently filtered) query over the same root paths,
    * and rootPaths are the only relation identity the registration keeps.
    * Returns (root paths, normalized canonical expr). */
  private def trace(plan: LogicalPlan, e: Expression,
                    throughFilters: Boolean = true): Option[(Set[String], Expression)] =
    plan match {
      case p: Project =>
        var ok = true
        val replaced = e.transformUp {
          case a: AttributeReference =>
            p.projectList.find(_.exprId == a.exprId) match {
              case Some(al: Alias) => al.child
              case Some(ar: AttributeReference) => ar
              case _ => ok = false; a
            }
        }
        if (ok) trace(p.child, replaced, throughFilters) else None
      case s: SubqueryAlias => trace(s.child, e, throughFilters)
      case f: Filter if throughFilters => trace(f.child, e, throughFilters)
      case r @ LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        var ok = true
        val bound = e.transformUp {
          case a: AttributeReference =>
            val i = r.output.indexWhere(_.exprId == a.exprId)
            if (i < 0) { ok = false; a }
            else BoundReference(i, a.dataType, a.nullable)
        }
        if (ok)
          Some((h.location.rootPaths.map(_.toString).toSet, bound.canonicalized))
        else None
      case _ => None
    }

  /** Register a materialized hourly rollup for `raw`. `rollupPath` holds
    * parquet with `hourCol` (hour-start timestamp), the dim columns
    * (same names as in `raw`), and `sumCol` = hourly SUM of
    * `measureCol`; optionally `cntCol` (hourly COUNT(*)),
    * `cntMeasureCol` (hourly COUNT(measure) — non-null count, the AVG
    * denominator), `minCol` / `maxCol` (hourly MIN/MAX of the measure)
    * widen the served shapes to COUNT/MIN/MAX/AVG. The raw frame must be
    * Project/Alias over ONE file relation with NO row filter on the
    * spine — a rollup of a filtered subset must never answer for the
    * whole table. Captures the raw store's current signature — the
    * freshness token. Re-registering after a refresh re-arms the rule.
    */
  def register(spark: SparkSession, raw: DataFrame, tsCol: String,
               dims: Seq[String], measureCol: String,
               rollupPath: String, hourCol: String, sumCol: String,
               cntCol: Option[String] = None,
               minCol: Option[String] = None,
               maxCol: Option[String] = None,
               cntMeasureCol: Option[String] = None,
               grain: String = "hour",
               kmv: Option[(org.apache.spark.sql.Column, Int, String)] = None,
               extraMeasures: Seq[String] = Nil,
               exactSum: Option[(String, Int)] = None): String = {
    require(GrainRank.contains(normLevel(grain)),
      s"RollupNavigation: unknown grain $grain")
    // Trace through the OPTIMIZED projection, not the analyzed plan: by
    // the time this rule sees a query, expression simplification has run
    // (e.g. SimplifyCasts strips a redundant int→int cast off a computed
    // column), so the registration's canonical forms must receive the
    // same normalization or computed dims/measures silently never match.
    val names = (Seq(tsCol, measureCol) ++ extraMeasures ++ dims).distinct
    val plan = raw.select(names.map(n => col(s"`$n`")): _*)
      .queryExecution.optimizedPlan
    def attrOf(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"RollupNavigation: no column $n in raw frame"))
    val ts = trace(plan, attrOf(tsCol), throughFilters = false)
    val ms = trace(plan, attrOf(measureCol), throughFilters = false)
    val ems = extraMeasures.map(m =>
      m -> trace(plan, attrOf(m), throughFilters = false))
    val ds = dims.map(d => d -> trace(plan, attrOf(d), throughFilters = false))
    require(ts.nonEmpty && ms.nonEmpty && ds.forall(_._2.nonEmpty) &&
        ems.forall(_._2.nonEmpty),
      "RollupNavigation: raw frame must be Project/Alias (no Filter) over one file relation")
    val roots = ts.get._1
    val rollupRel = Tables.parquet(spark, rollupPath).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr
    }.getOrElse(throw new IllegalStateException(
      s"RollupNavigation: $rollupPath did not analyze to a file relation"))
    // extra measures use the suffix convention shared with
    // Rollup.hourlyStats(extraMeasures = ...): all four partials present
    val extraCols = extraMeasures.map { m =>
      m -> MeasureCols(s"sum_$m", Some(s"cnt_measure_$m"),
        Some(s"min_$m"), Some(s"max_$m"))
    }.toMap
    (Seq(hourCol, sumCol) ++ cntCol ++ cntMeasureCol ++ minCol ++ maxCol ++
        kmv.map(_._3) ++ exactSum.map(_._1) ++ extraCols.values.flatMap(mc =>
          Seq(mc.sumCol) ++ mc.cntMeasureCol ++ mc.minCol ++ mc.maxCol)).foreach { c =>
      require(rollupRel.output.exists(_.name == c),
        s"RollupNavigation: rollup at $rollupPath has no column $c")
    }
    // KMV hash-input trace: the input is an EXPRESSION over raw (e.g.
    // md5Long(cast(user_id))), not a named column — trace it through the
    // OPTIMIZED select plan so cast-simplification etc. normalizes it to
    // the same form the optimizer will have applied to the query side by
    // the time this rule runs
    val kmvInfo = kmv.map { case (c, kk, rollCol) =>
      require(kk >= 2, s"RollupNavigation: kmv k=$kk must be >= 2")
      val pr = raw.select(c.as("__kmv_in")).queryExecution.optimizedPlan
      val tr = pr match {
        case Project(Seq(al: Alias), child) =>
          trace(child, al.child, throughFilters = false)
        case _ => None
      }
      require(tr.nonEmpty && tr.get._1 == roots,
        "RollupNavigation: kmv input must be a deterministic expression over the registered relation")
      require(tr.get._2.deterministic,
        "RollupNavigation: kmv input must be deterministic")
      (rollCol, kk, tr.get._2)
    }
    // keyed by (raw roots, rollup roots): SEVERAL rollups of the same raw
    // store coexist (the grain ladder — hourly + daily + monthly);
    // re-registering the same rollup path after a refresh replaces its
    // entry only
    val rollupRoots = rollupRel.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString).toSet
      case _ => Set(rollupPath)
    }
    val key = roots.toSeq.sorted.mkString(",") + "|" +
      rollupRoots.toSeq.sorted.mkString(",")
    val measures: Seq[(Expression, MeasureCols)] =
      (ms.get._2, MeasureCols(sumCol, cntMeasureCol, minCol, maxCol,
        qSumCol = exactSum.map(_._1),
        qScale = exactSum.map(_._2).getOrElse(0))) +:
        ems.map { case (m, t) => (t.get._2, extraCols(m)) }
    regs.put(key, Registration(
      roots, ts.get._2, ds.map { case (d, t) => d -> t.get._2 }.toMap,
      measures, rollupRel, hourCol, cntCol,
      currentSignature(spark, roots), normLevel(grain),
      kmvCol = kmvInfo.map(_._1), kmvK = kmvInfo.map(_._2).getOrElse(0),
      kmvTraced = kmvInfo.map(_._3)))
    key
  }

  /** True iff every key (as returned by [[register]]) is still live — the
    * cheap re-arm check callers use to skip re-deriving a registration
    * whose traces/relations are unchanged (Rollup.registerStatsLadder's
    * memo). `clear()` empties the table, so suites that wipe registrations
    * force the next register to do full work. */
  private[graft] def isLive(keys: Seq[String]): Boolean =
    keys.nonEmpty && keys.forall(regs.contains)

  /** Drop all registrations (spec hygiene). */
  def clear(): Unit = { regs.clear(); sigCache.clear(); parentDepth.clear() }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (regs.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate => tryNavigate(agg).getOrElse(agg)
    }
  }

  private sealed trait GKind
  private final case class TsG(level: String, tz: Option[String]) extends GKind
  private final case class DimG(name: String) extends GKind

  /** Navigable aggregate shapes (what the rollup's partials can serve). */
  private sealed trait ANav
  private final case class SumNav(orig: AggregateExpression, sum: Sum,
      mc: MeasureCols) extends ANav
  private case object CntNav extends ANav
  private final case class CntMeasureNav(mc: MeasureCols) extends ANav
  private final case class MinNav(mc: MeasureCols) extends ANav
  private final case class MaxNav(mc: MeasureCols) extends ANav
  private final case class AvgNav(mc: MeasureCols) extends ANav
  private final case class KmvNav(
      orig: AggregateExpression,
      sa: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _]) extends ANav
  private final case class CntDistinctDimNav(
      orig: AggregateExpression, dim: String) extends ANav

  private def tryNavigate(agg: Aggregate): Option[LogicalPlan] = {
    val spark = SparkSession.active
    // one freshness probe per distinct roots-set per planned aggregate:
    // the three rungs of one ladder share their raw roots, so without
    // this each candidate would pay its own shallow listStatus
    val sigMemo = scala.collection.mutable.Map.empty[Set[String], String]
    def freshSignature(paths: Set[String]): String =
      sigMemo.getOrElseUpdate(paths, currentSignature(spark, paths))
    // GRAIN-LADDER SELECTION: every registration is offered the
    // aggregate; among those that can serve it (grain composes into the
    // query's bucket, needed partials present, dims/filters replayable,
    // store fresh) the COARSEST grain wins — its rollup has the fewest
    // rows (a monthly store is ~720× smaller than the hourly one for the
    // same span) — with fewer dims as the tiebreak (narrower key = more
    // collapsed rows). Candidate construction is plan-shape work only;
    // the per-candidate freshness probe is one shallow listStatus.
    regs.values.toSeq.flatMap { reg =>
      def traced(e: Expression): Option[Expression] =
        trace(agg.child, e).collect { case (roots, t) if roots == reg.rootPaths => t }

      // ---- filter spine: every Filter between aggregate and scan must
      // be dim-replayable (references only registered dims, deterministic,
      // no subqueries); collect (condition, attr -> dim name) for replay.
      // The base case anchors RELATION IDENTITY — root paths must equal
      // the registration's (a COUNT(*)-only aggregate traces no column,
      // so the spine is the only witness that this is the registered
      // table at all)
      def spineFilters(p: LogicalPlan): Option[List[Filter]] = p match {
        case f: Filter => spineFilters(f.child).map(f :: _)
        case pr: Project => spineFilters(pr.child)
        case s: SubqueryAlias => spineFilters(s.child)
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _)
            if h.location.rootPaths.map(_.toString).toSet == reg.rootPaths =>
          Some(Nil)
        case _ => None
      }
      // a replayable conjunct: either a DIM predicate (re-evaluated over
      // the rollup's dim columns) or a GRAIN-ALIGNED time-range bound
      // (re-pointed at the bucket column). Represented as a constructor
      // over (dim-name -> attr, bucket attr), applied once the navigated
      // relation instance exists. Filter-condition attributes are traced
      // from BELOW the filter (`f.child`) — the projection ABOVE a filter
      // is column-pruned to what the aggregate needs, so filter-only
      // columns (the canonical dashboard WHERE's dims) no longer exist on
      // the `agg.child` spine.
      type Replay = (String => Attribute, Attribute) => Expression
      // is `t` exactly on a `grain` boundary? Evaluate the engine's own
      // truncation at plan time — handles variable-length grains
      // (month/quarter/year) and the session calendar for free.
      def alignedToGrain(lit: Literal): Boolean = scala.util.Try {
        val truncated = TruncTimestamp(
          Literal(UTF8String.fromString(reg.grain), StringType),
          lit, Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
        truncated == lit.value
      }.getOrElse(false)
      def tsRangeReplay(below: LogicalPlan, c: Expression): Option[Replay] = {
        val tzStr = spark.sessionState.conf.sessionLocalTimeZone
        // UnwrapCastInBinaryComparison tolerance: when the registered time
        // column is `cast(raw_ts)` (e.g. parquet TIMESTAMP_NTZ cast to the
        // session type), the optimizer strips that cast off the predicate
        // side and re-types the literal — so the conjunct compares the RAW
        // column. Accept it and CAST THE LITERAL FORWARD into the bucket
        // type instead, but only under a fixed-offset session zone, where
        // the cast is a strictly monotone bijection of instants (a DST
        // zone's overlapped/skipped wall hours would break `>=` ⇔
        // `cast >= cast`).
        lazy val fixedOffsetTz =
          java.time.ZoneId.of(tzStr).getRules.isFixedOffset
        // does `e` compute the registered time column (directly or as its
        // un-cast child)? Returns the comparison literal re-typed to the
        // bucket column's type, or None.
        def tsLit(e: Expression, lit: Literal): Option[Literal] =
          trace(below, e).flatMap { case (roots, t) =>
            if (roots != reg.rootPaths) None
            else if (t == reg.tsTraced) Some(lit)
            else reg.tsTraced match {
              case cst: Cast if cst.child == t && fixedOffsetTz =>
                scala.util.Try(Literal(
                  Cast(lit, cst.dataType, Some(tzStr)).eval(null),
                  cst.dataType)).toOption
              case _ => None
            }
          }
        def isTs(e: Expression): Boolean =
          trace(below, e).exists { case (roots, t) =>
            roots == reg.rootPaths &&
              (t == reg.tsTraced || (reg.tsTraced match {
                case cst: Cast => cst.child == t
                case _ => false
              })) }
        c match {
          // ts >= L, L grain-aligned: bucket >= L selects exactly the
          // same rows' partials (bucket < L holds only rows < L)
          case GreaterThanOrEqual(l, lit: Literal) =>
            tsLit(l, lit).filter(alignedToGrain).map(cl =>
              (_, bucket) => GreaterThanOrEqual(bucket, cl))
          // ts < U, U aligned: buckets >= U hold only rows >= U
          case LessThan(l, lit: Literal) =>
            tsLit(l, lit).filter(alignedToGrain).map(cl =>
              (_, bucket) => LessThan(bucket, cl))
          // flipped literal-first forms the optimizer may produce
          case LessThanOrEqual(lit: Literal, r) =>
            tsLit(r, lit).filter(alignedToGrain).map(cl =>
              (_, bucket) => GreaterThanOrEqual(bucket, cl))
          case GreaterThan(lit: Literal, r) =>
            tsLit(r, lit).filter(alignedToGrain).map(cl =>
              (_, bucket) => LessThan(bucket, cl))
          // the optimizer injects isnotnull(ts) alongside any range bound
          // (InferFiltersFromConstraints); null-ts raw rows land in the
          // null-bucket rollup group, so the same predicate over the
          // bucket column drops exactly their partials (the un-cast form
          // qualifies too: a cast never nulls a non-null timestamp)
          case IsNotNull(e) if isTs(e) =>
            Some((_, bucket) => IsNotNull(bucket))
          case _ => None
        }
      }
      def dimReplay(below: LogicalPlan, c: Expression): Option[Replay] = {
        val mapped = c.references.toSeq.map { a =>
          trace(below, a).collect { case (roots, t) if roots == reg.rootPaths => t }
            .flatMap(t => reg.dimsTraced.collectFirst {
              case (d, dt) if dt == t => a.exprId -> d
            })
        }
        if (mapped.forall(_.nonEmpty)) {
          val attrDims = mapped.flatten.toMap
          Some((dimAttr, _) => c.transformUp {
            case a: AttributeReference if attrDims.contains(a.exprId) =>
              dimAttr(attrDims(a.exprId))
          })
        } else None
      }
      def replayOf(f: Filter): Option[Seq[Replay]] = {
        if (!f.condition.deterministic) return None
        if (f.condition.exists(_.isInstanceOf[PlanExpression[_]])) return None
        // top-level conjuncts replay independently (the canonical
        // dashboard WHERE: dims AND a half-open time range)
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(a, b) => conjuncts(a) ++ conjuncts(b)
          case other => Seq(other)
        }
        val rs = conjuncts(f.condition).map(c =>
          dimReplay(f.child, c).orElse(tsRangeReplay(f.child, c)))
        if (rs.forall(_.nonEmpty)) Some(rs.flatten) else None
      }
      val replays: Option[Seq[Replay]] =
        spineFilters(agg.child).flatMap { fs =>
          val rs = fs.map(replayOf)
          if (rs.forall(_.nonEmpty)) Some(rs.flatten.flatten) else None
        }

      // ---- grouping classification on the TRACED form (the main
      // optimizer pulls grouping expressions into a Project below the
      // Aggregate, so the raw grouping list is plain attributes)
      def classify(e: Expression): Option[GKind] = traced(e).flatMap {
        case t if reg.dimsTraced.exists(_._2 == t) =>
          Some(DimG(reg.dimsTraced.collectFirst { case (d, dt) if dt == t => d }.get))
        case TruncTimestamp(Literal(l: UTF8String, StringType), inner, tz)
            if serves(reg.grain, l.toString) && inner == reg.tsTraced =>
          Some(TsG(l.toString, tz))
        case _ => None
      }
      // which registered measure (if any) does this expression compute?
      def measureOf(e: Expression): Option[MeasureCols] = traced(e).flatMap(t =>
        reg.measures.collectFirst { case (mt, mc) if mt == t => mc })

      // ---- aggregate-shape classification
      def navAgg(ae: AggregateExpression): Option[ANav] = ae match {
        case AggregateExpression(s @ Sum(m, _), _, false, None, _) =>
          measureOf(m).map(SumNav(ae, s, _))
        case AggregateExpression(Count(Seq(l: Literal)), _, false, None, _)
            if l.value != null && reg.cntCol.nonEmpty =>
          Some(CntNav)
        case AggregateExpression(Count(Seq(m)), _, false, None, _) =>
          measureOf(m).collect {
            case mc if mc.cntMeasureCol.nonEmpty => CntMeasureNav(mc) }
        case AggregateExpression(Min(m), _, false, None, _) =>
          measureOf(m).collect { case mc if mc.minCol.nonEmpty => MinNav(mc) }
        case AggregateExpression(Max(m), _, false, None, _) =>
          measureOf(m).collect { case mc if mc.maxCol.nonEmpty => MaxNav(mc) }
        // AVG needs the NON-NULL measure count as denominator (Average
        // ignores null measures; COUNT(*) over-counts the moment the
        // measure admits a null) — a registration without cntMeasureCol
        // declines, whatever the column's nullability flag says
        case AggregateExpression(Average(m, _), _, false, None, _)
            if !m.dataType.isInstanceOf[DecimalType] =>
          measureOf(m).collect {
            case mc if mc.cntMeasureCol.nonEmpty => AvgNav(mc) }
        // KMV distinct sketch: kMinima(hash, k) over raw rewrites to
        // mergeMinima(kmv_col, k) over the rollup's stored per-bucket
        // states — EXACT (the union's k minima live in the union of
        // per-bucket k minima), so even the estimate is bit-identical.
        // Requires the same k and the same traced hash-input expression.
        case AggregateExpression(
            sa: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _],
            _, false, None, _)
            if reg.kmvCol.nonEmpty &&
              sa.agg.isInstanceOf[graft.functions.Kmv.KmvAggregator] &&
              sa.agg.asInstanceOf[graft.functions.Kmv.KmvAggregator].k == reg.kmvK &&
              sa.children.size == 1 &&
              traced(sa.children.head).exists(t => reg.kmvTraced.contains(t)) =>
          Some(KmvNav(ae, sa))
        // COUNT(DISTINCT dim): every raw (group, dim-value) combination
        // is present as a rollup row, so distinct-dim counting over the
        // rollup's rows is EXACT at any rung (nulls ignored identically
        // on both sides). Only registered DIMS qualify — the rollup does
        // not keep raw measure values.
        case AggregateExpression(Count(Seq(d)), _, true, None, _) =>
          traced(d).flatMap(t => reg.dimsTraced.collectFirst {
            case (name, dt) if dt == t => CntDistinctDimNav(ae, name)
          })
        case _ => None
      }

      val classified = agg.groupingExpressions.map(classify)
      val tsGroups = classified.count(_.exists(_.isInstanceOf[TsG]))
      def groupIndexOf(e: Expression): Int =
        agg.groupingExpressions.indexWhere(_.semanticEquals(e))
      // a non-aggregate output may be ANY function of the grouping
      // expressions (the optimizer emits e.g. date_trunc(day, <hour
      // grouping>) directly in the aggregate list) — but nothing else
      // may leak through
      // An output expression is servable when every AggregateExpression
      // inside it is a navigable shape and everything OUTSIDE the
      // aggregates is grounded in grouping expressions (or literals).
      // This must accept ARBITRARY functions over aggregates — the
      // optimizer's CollapseProject merges display projections
      // (round(avg(x), 2), date_format(day, ...)) into the aggregate
      // list, so "Alias over a bare AggregateExpression" is NOT the
      // shape this rule actually sees for real dashboard queries.
      def okOutput(e: Expression): Boolean = e match {
        case ae: AggregateExpression => navAgg(ae).nonEmpty
        case g if groupIndexOf(g) >= 0 => true
        case _: AttributeReference => false // non-group attr leaked
        case other => other.children.forall(okOutput) // literals vacuous
      }
      val outputsOk = agg.aggregateExpressions.forall {
        case Alias(child, _) => okOutput(child)
        case a: AttributeReference => groupIndexOf(a) >= 0
        case _ => false
      }
      if (classified.forall(_.nonEmpty) && tsGroups <= 1 &&
          outputsOk && replays.nonEmpty &&
          agg.aggregateExpressions.nonEmpty &&
          freshSignature(reg.rootPaths) == reg.rawSignature) {
        // fresh output ids for the navigated relation (it may appear
        // several times in one tree)
        val rel = reg.rollupRelation.newInstance()
        def rollAttr(n: String) = rel.output.find(_.name == n).get
        val hourAttr = rollAttr(reg.hourCol)
        val newGe = classified.map(_.get).map {
          case TsG(level, tz) =>
            TruncTimestamp(Literal(UTF8String.fromString(level), StringType),
              hourAttr, tz)
          case DimG(d) => rollAttr(d): Expression
        }
        // top-most subtrees matching a grouping expression re-point at
        // the substituted grouping; anything above them is recomputed
        // over the rollup columns unchanged
        def navExpr(n: ANav, origType: org.apache.spark.sql.types.DataType): Expression = n match {
          case SumNav(ae, s, mc) =>
            val resum = ae.copy(aggregateFunction =
              s.withNewChildren(Seq(rollAttr(mc.sumCol))).asInstanceOf[Sum])
            // decimal: Sum over the (already-widened) sum_col widens the
            // precision AGAIN — cast back so downstream AttributeReferences
            // under the kept ExprId see the original result type
            if (resum.dataType == origType) resum else Cast(resum, origType)
          case CntNav =>
            // COUNT is non-nullable 0 on an empty (global) input; SUM of
            // an empty rollup is null — coalesce restores the contract
            Coalesce(Seq(
              Sum(rollAttr(reg.cntCol.get)).toAggregateExpression(),
              Literal(0L)))
          case CntMeasureNav(mc) =>
            Coalesce(Seq(
              Sum(rollAttr(mc.cntMeasureCol.get)).toAggregateExpression(),
              Literal(0L)))
          case MinNav(mc) => Min(rollAttr(mc.minCol.get)).toAggregateExpression()
          case MaxNav(mc) => Max(rollAttr(mc.maxCol.get)).toAggregateExpression()
          case AvgNav(mc) =>
            // the weighted recombination Σsum/Σcnt_measure. The zero
            // denominator (an all-null-measure group) maps to NULL before
            // dividing: Average returns null there, and ANSI division
            // must never see a literal 0 (the If is the inlined form of
            // NullIf — RuntimeReplaceable can't be introduced after
            // ReplaceExpressions has run)
            val cntD = Cast(
              Sum(rollAttr(mc.cntMeasureCol.get)).toAggregateExpression(),
              DoubleType)
            val denom = If(EqualTo(cntD, Literal(0.0d)),
              Literal(null, DoubleType), cntD)
            mc.qSumCol match {
              // EXACT path: BIGINT Σ(quantized sums) recombines
              // bit-identically whatever partial tree produced the stored
              // rungs (build, rung climb, O(delta) refresh, extra
              // registered measures) — one long→double conversion, two
              // divisions, in a shape the oracle mirrors verbatim
              case Some(qc) =>
                new Divide(new Divide(
                  Cast(Sum(rollAttr(qc)).toAggregateExpression(), DoubleType),
                  Literal(math.pow(10, mc.qScale))), denom)
              // double partials: carries the same last-ulp contract as
              // re-associated SUMs (fine under round-at-display for SUM,
              // fragile for AVG's off-grid quotient — register exactSum
              // when the measure is fixed-decimal)
              case None =>
                new Divide(
                  Cast(Sum(rollAttr(mc.sumCol)).toAggregateExpression(), DoubleType),
                  denom)
            }
          case CntDistinctDimNav(orig, dim) =>
            orig.copy(aggregateFunction = Count(Seq(rollAttr(dim))))
          case KmvNav(orig, sa) =>
            // reuse the query-side BUFFER encoder (Array[Long], resolved
            // by the analyzer's ResolveEncodersInScalaAgg — this rewrite
            // runs post-analysis, so a fresh encoder would never resolve)
            // as both input and buffer encoder of the merge: a KMV state
            // and its merge input are the same array<long> shape
            val enc = sa.bufferEncoder.asInstanceOf[
              org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]]
            orig.copy(aggregateFunction =
              new org.apache.spark.sql.execution.aggregate.ScalaAggregator[
                  Array[Long], Array[Long], Array[Long]](
                Seq(rollAttr(reg.kmvCol.get)),
                new graft.functions.Kmv.KmvMergeAggregator(reg.kmvK),
                enc, enc, sa.nullable, true, 0, 0, Some("kmv_merge")))
        }
        // rewrite an output: navigable aggregates -> their rollup
        // recombinations, group subtrees -> substituted groupings, any
        // surrounding scalar function recomputed unchanged on top
        def rewriteOut(e: Expression): Expression = e match {
          case ae: AggregateExpression => navExpr(navAgg(ae).get, ae.dataType)
          case g if groupIndexOf(g) >= 0 => newGe(groupIndexOf(g))
          case other => other.withNewChildren(other.children.map(rewriteOut))
        }
        val newAe = agg.aggregateExpressions.map {
          case al @ Alias(child, name) =>
            Alias(rewriteOut(child), name)(
              exprId = al.exprId, qualifier = al.qualifier)
          case a: AttributeReference =>
            Alias(newGe(groupIndexOf(a)), a.name)(
              exprId = a.exprId, qualifier = a.qualifier)
          case other => other // unreachable: outputsOk gate
        }
        val newChild = replays.get.foldLeft(rel: LogicalPlan) {
          case (c, mk) => Filter(mk(rollAttr, hourAttr), c)
        }
        Some((reg, Aggregate(newGe, newAe, newChild)))
      } else None
    }.sortBy { case (reg, _) =>
      (-GrainRank(reg.grain), reg.dimsTraced.size)
    }.headOption.map(_._2)
  }
}
