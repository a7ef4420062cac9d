package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Sampling
import graft.sources.Tables

/** Behavioral/product-analytics surface: cohort retention, SCD2 history
  * expansion, Markov transition matrices, and market-basket association
  * rules. These are the session/funnel-family operators (SURVEY §2.6
  * superset) a security-analytics user runs downstream of the reference's
  * rollups — e.g. the reference's hourly device rollups
  * (clickhouse/main.py:61-78) feed exactly this kind of "which sources
  * keep coming back / what follows what" reporting, which the reference
  * delegates to its warehouse. All four are pure shuffle-on-key
  * aggregations with config-scale secondary joins — no driver-side data,
  * no pair blowup beyond per-basket bounds.
  */
object AnalyticsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cohort retention: customers grouped by first-order month, activity
    // tracked by month offset. The first-order table is one groupBy on
    // o_custkey; joining it back is customer-cardinality vs order-
    // cardinality, so AQE broadcasts it when it fits (the executed plan
    // at test scale — PlanShapeSpec pins broadcast + no cartesian) and
    // degrades to the co-partitioned shuffle join when it doesn't. Then
    // a config-scale (cohorts × offsets) aggregate; cohort sizes come
    // back as an explicit broadcast, retention as exact ppm (no double
    // division in the hash). At 100 TB the custkey shuffle is the only
    // data-scale move and it is the minimal one — first-touch cannot be
    // computed without co-locating a customer's orders once.
    "q_cohort_retention" -> ((s, dir) => {
      val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("m"))
      val first = o.groupBy("o_custkey").agg(min(col("m")).as("m0"))
      val act = o.join(first, "o_custkey")
        .groupBy(col("m0").as("cohort_m"), (col("m") - col("m0")).as("offset_m"))
        .agg(countDistinct(col("o_custkey")).as("n_active"))
      val sizes = act.filter(col("offset_m") === 0)
        .select(col("cohort_m"), col("n_active").as("n_cohort"))
      act.join(broadcast(sizes), "cohort_m")
        .select(col("cohort_m"), col("offset_m"), col("n_active"),
          col("n_cohort"),
          expr("(1000000 * n_active) div n_cohort").as("retained_ppm"))
    }),

    // SCD type-2 expansion of a changelog: the events table as an
    // upsert stream per user, each version given its validity interval
    // [valid_from, valid_to) by the next version's timestamp — the
    // write-side complement of q_cdc_latest's ReplacingMergeTree read
    // rule (one is the current snapshot, this is the full history a
    // time-travel join needs). One window per key partition; the
    // (ts, event_id) tie-break makes the interval chain reproducible.
    "q_cdc_scd2" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("valid_from_us").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from_us"))
        .withColumn("valid_to_us",
          lead(col("valid_from_us"), 1).over(w))
        .withColumn("is_current", col("valid_to_us").isNull)
    }),

    // CDC merge-apply — lakehouse MERGE INTO semantics (upsert +
    // tombstone delete) as ONE full-outer shuffle join on the key
    // (AQE-splittable; the snapshot never sorts): deletes drop, updates
    // coalesce over the old row, inserts survive the outer side. The
    // change batch is planted deterministically from the snapshot itself
    // (%101 deletes, %97 updates at +1.00, %89 inserts key-shifted past
    // max — the snapshot-diff synthetic-signal pattern). Output is the
    // post-merge census + exact-cents checksum plus the applied op
    // counts — what an incremental-materialization audit asserts on.
    "q_cdc_merge_apply" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val mx = o.agg(max(col("o_orderkey")).as("maxk"))
      val deletes = o.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(null).cast("double").as("p"), lit(null).cast("string").as("st"))
      val updates = o.filter(col("o_orderkey") % 97 === 0 &&
          col("o_orderkey") % 101 =!= 0)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          (col("o_totalprice") + 1.0).as("p"), col("o_orderstatus").as("st"))
      val inserts = o.filter(col("o_orderkey") % 89 === 0)
        .crossJoin(broadcast(mx))
        .select((col("o_orderkey") + col("maxk")).as("k"), lit("I").as("op"),
          (col("o_totalprice") + 1000.0).as("p"), lit("O").as("st"))
      val changes = deletes.unionByName(updates).unionByName(inserts)
      val merged = o.join(changes, o("o_orderkey") === changes("k"), "full_outer")
        .filter(!(col("op") <=> lit("D")))
        .select(coalesce(col("p"), col("o_totalprice")).as("p"))
      val census = merged.agg(count(lit(1)).as("n_rows"),
        sum(round(col("p") * 100).cast("long")).as("sum_cents"))
      val ops = changes.agg(
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_del"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_upd"),
        sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_ins"))
      census.crossJoin(broadcast(ops))
    }),

    // Markov transition matrix over per-user event sequences: lag() per
    // user (one shuffle), transition counts, row-normalized to exact ppm
    // over the config-scale (types × types) matrix. The behavioral
    // "what follows what" summary — and the trained object a
    // next-event-prediction baseline or a synthetic-sequence generator
    // consumes.
    "q_markov_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = Tables.events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      trans
        .withColumn("p_ppm",
          expr("(1000000 * n) div sum(n) over (partition by prev)"))
        .select(col("prev"), col("next"), col("n"), col("p_ppm"))
    }),

    // Linear multi-touch attribution — each purchase's credit split
    // equally across the user's views in the trailing 7 days (the
    // ad-analytics sibling of the as-of join's last-touch). The
    // touch join is EQUI on user_id (one co-partitioned shuffle) with
    // the time window as a post-predicate — candidate volume is
    // Σ_user purchases×views-in-window, bounded by per-user activity,
    // never a cross of the event streams. Credits are integer
    // floor-ppm (Σ per purchase ≤ 1e6 by construction, documented
    // floor semantics); the day rollup is exact.
    "q_attribution_linear" -> ((s, dir) => {
      val weekUs = 7L * 86400000000L
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("t"), col("event_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t").as("tp"), col("event_id").as("pid"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("t").as("tv"))
      val touches = p.join(v, Seq("user_id"))
        .filter(col("tv") < col("tp") && col("tv") >= col("tp") - lit(weekUs))
      val perPurchase = Window.partitionBy("pid")
      touches
        .withColumn("n_touch", count(lit(1)).over(perPurchase))
        .withColumn("credit_ppm", expr("1000000 div n_touch"))
        .groupBy(expr("tv div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_ppm")).as("credit_u"))
    }),

    // RFM segmentation — the classic customer-value census (recency /
    // frequency / monetary quartile scores), in the shape that survives
    // 100 TB: ONE events scan builds the persisted per-user R/F/M
    // aggregate (CacheRegistry-owned, the Graph.pagerank pattern); the
    // quartile BOUNDARIES for all three metrics come from ONE
    // grouped-quantile derivation over the stack-unpivoted (metric,
    // value) frame — never an ntile window over all users (one task at
    // scale), and never a per-metric re-derivation (each of the
    // operator's eager bin passes would otherwise re-run the corpus
    // aggregate from lineage — the r8 ~9-scan shape). Scoring is a pure
    // broadcast-threshold scan over the cached base. Boundaries are
    // exact data values, so every score comparison is integer-exact and
    // the oracle re-picks the identical boundaries with row_number.
    "q_rfm_segmentation" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("t"), col("value"))
      val users = graft.ops.CacheRegistry.persist(
        ev.groupBy("user_id").agg(
          max(col("t")).as("last_t"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("freq"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("mon_cents")))
      // ONE eager action end to end (the r10 verdict's last RFM fold):
      // stack NEGATED last_t — rec_days = (maxT − last_t) div day is a
      // non-decreasing transform of −last_t, so its exact quantile
      // boundaries are the transform of −last_t's boundaries at the
      // SAME index (k-th smallest of g(Y) = g(Y's k-th smallest) for
      // monotone non-decreasing g, exact even under div's ties), and
      // maxT itself is −last_t's q=0 boundary. The former separate
      // max-t head() thus folds INTO the operator's single metadata
      // collect — which is also what materializes the cache — and the
      // pick + score scan stays one lazy downstream action.
      val stacked = users.selectExpr(
        "stack(3, 'neg_t', -CAST(last_t AS DOUBLE), " +
          "'freq', CAST(freq AS DOUBLE), " +
          "'mon_cents', CAST(mon_cents AS DOUBLE)) AS (__m, __v)")
      val dayUs = 86400000000L
      val bounds = graft.ops.Profiling.exactQuantilesBinnedGrouped(
          stacked, col("__m"), col("__v"), Seq(0, 25, 50, 75), nBins = 64)
        .groupBy().pivot("grp", Seq("neg_t", "freq", "mon_cents"))
        .agg(max(when(col("q_pct") === 0, col("value"))).as("b0"),
          max(when(col("q_pct") === 25, col("value"))).as("b25"),
          max(when(col("q_pct") === 50, col("value"))).as("b50"),
          max(when(col("q_pct") === 75, col("value"))).as("b75"))
        // doubles here are exact integers (|t| < 2^53): back to Long
        // arithmetic before the div so every boundary stays integer-exact
        .withColumn("__maxt", -col("neg_t_b0").cast("long"))
        .withColumn("rec_b25",
          expr(s"(__maxt + CAST(neg_t_b25 AS BIGINT)) div $dayUs"))
        .withColumn("rec_b50",
          expr(s"(__maxt + CAST(neg_t_b50 AS BIGINT)) div $dayUs"))
        .withColumn("rec_b75",
          expr(s"(__maxt + CAST(neg_t_b75 AS BIGINT)) div $dayUs"))
      def score(c: String) =
        lit(1L) +
          when(col(c).cast("double") > col(s"${c}_b25"), 1L).otherwise(0L) +
          when(col(c).cast("double") > col(s"${c}_b50"), 1L).otherwise(0L) +
          when(col(c).cast("double") > col(s"${c}_b75"), 1L).otherwise(0L)
      def recScore =
        lit(1L) +
          when(col("rec_days") > col("rec_b25"), 1L).otherwise(0L) +
          when(col("rec_days") > col("rec_b50"), 1L).otherwise(0L) +
          when(col("rec_days") > col("rec_b75"), 1L).otherwise(0L)
      users.crossJoin(broadcast(bounds))
        .withColumn("rec_days", expr(s"(__maxt - last_t) div $dayUs"))
        .select(col("user_id"), col("rec_days"), col("freq"), col("mon_cents"),
          (lit(5L) - recScore).as("r_score"),
          score("freq").as("f_score"),
          score("mon_cents").as("m_score"))
    }),

    // A/B experiment readout — the two-proportion z-test over a
    // hash-assigned experiment (Sampling.hashBucket assigns arms the way
    // production experiment frameworks do: pure per-row expression, no
    // RNG, stable under reruns and data growth): per-arm exposure/
    // conversion counts are ONE conditional aggregate; the z statistic
    // replays a pinned left-associated double chain (sqrt is
    // IEEE-exact — the determinism boundary) rounded at the end. Output
    // is the one-row readout a launch decision reads.
    "q_ab_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val users = ev.groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150.0, 1L).otherwise(0L)).as("converted"))
        .withColumn("arm", Sampling.hashBucket(col("user_id"), 2, "ab"))
      val agg = users.agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L, col("converted")).otherwise(0L)).as("c_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1L, col("converted")).otherwise(0L)).as("c_b"))
      val pa = col("c_a").cast("double") / col("n_a")
      val pb = col("c_b").cast("double") / col("n_b")
      val pp = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
      agg.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        expr("(1000000 * c_a) div n_a").as("cr_a_ppm"),
        expr("(1000000 * c_b) div n_b").as("cr_b_ppm"),
        round((pa - pb) /
          sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4).as("z"))
    }),

    // Exact per-group mode (most frequent value, deterministic
    // tie-break) — the categorical summary statistic: two-level
    // aggregation (count per (group, value) — map-side combined), then
    // the top-1 window runs over each group's DISTINCT values only,
    // never its rows. The (count desc, value asc) tie rule makes the
    // mode reproducible.
    "q_agg_mode" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),

    // HLL set algebra — |A∪B| from a max-merge of two register tables,
    // |A∩B| by inclusion–exclusion (sketch composition: union is the
    // only native HLL merge; intersection derives). Sets = customers
    // ordering in the first vs the last date quartile — computed at
    // register scale (512 longs per set, merged by max), with the exact
    // distinct counts riding along so the query reports its own error.
    // At 100 TB the exact branch disappears and the three estimates
    // cost three register tables.
    "q_hll_intersection" -> ((s, dir) => {
      import graft.functions.{Hashing, Hll}
      val o = Tables.normalizeTs(Tables.orders(s, dir), "o_orderdate")
        .withColumn("__dus", unix_micros(col("o_orderdate")))
      val ds = o.agg(min("__dus").as("mind"), max("__dus").as("maxd"))
      val tagged = o.crossJoin(broadcast(ds))
        .withColumn("q1", col("__dus") < expr("mind + (maxd - mind) div 4"))
        .withColumn("q4", col("__dus") >= expr("mind + 3 * ((maxd - mind) div 4)"))
        .filter(col("q1") || col("q4"))
        .select(col("o_custkey"), when(col("q1"), "a").otherwise("b").as("side"))
      val h = Hashing.md5Long(col("o_custkey").cast("string"))
      val regs = tagged.groupBy(col("side"), Hll.regIdx(h).as("reg_idx"))
        .agg(max(Hll.rho(h)).as("rho"))
      def estimateOf(df: DataFrame, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_present"),
            sum(Hll.registerTerm("rho")).as("s_present"))
          .select(Hll.estimate(lit(Hll.M.toLong) - col("n_present"),
            Hll.harmonicS(col("n_present"), col("s_present"))).as(name))
      val estA = estimateOf(regs.filter(col("side") === "a"), "est_a")
      val estB = estimateOf(regs.filter(col("side") === "b"), "est_b")
      val estU = estimateOf(
        regs.groupBy("reg_idx").agg(max(col("rho")).as("rho")), "est_union")
      val exact = tagged.agg(
        countDistinct(when(col("side") === "a", col("o_custkey"))).as("n_a"),
        countDistinct(when(col("side") === "b", col("o_custkey"))).as("n_b"),
        countDistinct(col("o_custkey")).as("n_union"))
      estA.crossJoin(estB).crossJoin(estU).crossJoin(broadcast(exact))
        .select(col("est_a"), col("est_b"), col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 2)
            .as("est_intersection"),
          col("n_a"), col("n_b"), col("n_union"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_intersection"))
    }),

    // Rolling WAU via mergeable HLL sketches — the 100 TB form of
    // rolling distinct: q_rolling_wau's scatter is exact but its state
    // per report day is the distinct user set; at extreme scale the
    // per-day HLL REGISTER tables (512 longs/day, mergeable by max)
    // replace it, and a 7-day window merge is just max over the window's
    // registers — sketch mergeability doing the windowing. The exact
    // scatter rides along so the query reports its own estimation error
    // (est vs exact per day, typically a few % at this M).
    "q_rolling_wau_hll" -> ((s, dir) => {
      import graft.functions.{Hashing, Hll}
      val ev = Tables.events(s, dir).select(
        expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      val h = Hashing.md5Long(col("user_id").cast("string"))
      val dayRegs = ev.groupBy(col("day"), Hll.regIdx(h).as("reg_idx"))
        .agg(max(Hll.rho(h)).as("rho"))
      val merged = dayRegs
        .withColumn("rday", explode(sequence(col("day"), col("day") + 6)))
        .groupBy("rday", "reg_idx").agg(max(col("rho")).as("rho"))
      val est = merged.groupBy("rday")
        .agg(count(lit(1)).as("n_present"),
          sum(Hll.registerTerm("rho")).as("s_present"))
        .select(col("rday").as("day"),
          (lit(Hll.M.toLong) - col("n_present")).as("n_zero"),
          Hll.harmonicS(col("n_present"), col("s_present")).as("harmonic_s"))
        .select(col("day"),
          Hll.estimate(col("n_zero"), col("harmonic_s")).as("wau_est"))
      val exact = ev.select("user_id", "day").distinct()
        .withColumn("rday", explode(sequence(col("day"), col("day") + 6)))
        .select("user_id", "rday").distinct()
        .groupBy(col("rday").as("day")).agg(count(lit(1)).as("wau_exact"))
      ev.select("day").distinct()
        .join(est, "day").join(exact, "day")
        .select(col("day"), col("wau_est"), col("wau_exact"))
    }),

    // Exponentially-decayed trending score (half-life = 1 day) — the
    // "what's hot now" ranking. Determinism is the interesting part: a
    // libm pow() is not bit-portable, so the decay 2^(−age) is computed
    // as INTEGER weights n·2^(30−age) (shiftleft — ages beyond 30 days
    // contribute < 2^-30 of a count and are cut identically on both
    // sides), summed exactly as Longs; the fixed-point score is exact
    // under any partitioning. Day aggregates are config-scale; the
    // corpus pays one count.
    "q_trending_decay" -> ((s, dir) => {
      val byDay = Tables.events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val mx = byDay.agg(max(col("day")).as("maxd"))
      byDay.crossJoin(broadcast(mx))
        .withColumn("age", (col("maxd") - col("day")).cast("int"))
        .filter(col("age") <= 30)
        .withColumn("w", col("n") * expr("shiftleft(1L, 30 - age)"))
        .groupBy("event_type")
        .agg(sum(col("w")).as("score_u"),
          round(sum(col("w")).cast("double") / lit(1073741824.0), 6)
            .as("score"))
    }),

    // Rolling 7-day active users (DAU/WAU) — rolling DISTINCT does not
    // decompose into a window sum of daily distincts, and the naive form
    // (range-join every day against a week of user-days, or a sliding
    // collect_set) centralizes state. The scale shape: dedup to
    // user-days once, then each user-day COVERS the 7 report days it
    // contributes to (a bounded ×7 explode — the window inverted into a
    // scatter), and rolling-distinct becomes a plain distinct + count on
    // (user, report_day) — the classic "invert the window" trick for
    // distinct-over-window at scale. Reported per ACTIVE day (the inner
    // join keeps the day grid data-derived).
    "q_rolling_wau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .withColumn("rday", explode(sequence(col("day"), col("day") + 6)))
        .select("user_id", "rday").distinct()
        .groupBy(col("rday").as("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, "day").select(col("day"), col("dau"), col("wau"))
    }),

    // Native session windows — Spark's built-in `session_window` (the
    // idiomatic form of the 30-min-gap sessionization that q_sessionize
    // derives with the island window and StatefulSessionize carries in
    // custom streaming state). Boundary semantics differ at EXACT gap:
    // the island rule keeps an event landing exactly at prev+gap in the
    // same session (strict >), session_window starts a new one (window
    // end is exclusive) — so this query's oracle encodes the >= rule
    // explicitly rather than borrowing q_sessionize's. Same scale shape:
    // one shuffle on user_id, per-user session merge, no global state.
    "q_sessionize_native" -> ((s, dir) => {
      val sess = Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("span_us"))
      sess.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("span_us")).as("max_span_us"))
    }),

    // Time-bounded conversion funnel — the ClickHouse-warehouse
    // `windowFunnel` shape (the reference's rollups land in exactly that
    // warehouse): signup → first view within 24 h → first purchase
    // within 24 h of that view. Each stage is one filter + one
    // co-partitioned shuffle join on user_id + one min-aggregate; gaps
    // accumulate as exact integer micros. Output is the 3-row stage
    // census (n reaching each stage, total time-in-stage).
    "q_funnel_timebound" -> ((s, dir) => {
      val dayUs = 86400000000L
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("t"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("t")).as("t1"))
      val s2 = ev.filter(col("event_type") === "view").join(s1, "user_id")
        .filter(col("t") > col("t1") && col("t") <= col("t1") + lit(dayUs))
        .groupBy("user_id").agg(min(col("t")).as("t2"), max(col("t1")).as("g1"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("t") > col("t2") && col("t") <= col("t2") + lit(dayUs))
        .groupBy("user_id").agg(min(col("t")).as("t3"), max(col("t2")).as("g2"))
      s1.agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("stage"), col("n_users"), lit(0L).as("sum_gap_us"))
        .unionByName(s2.agg(count(lit(1)).as("n_users"),
            sum(col("t2") - col("g1")).as("sum_gap_us"))
          .select(lit(2L).as("stage"), col("n_users"), col("sum_gap_us")))
        .unionByName(s3.agg(count(lit(1)).as("n_users"),
            sum(col("t3") - col("g2")).as("sum_gap_us"))
          .select(lit(3L).as("stage"), col("n_users"), col("sum_gap_us")))
    }),

    // As-of join with a tolerance bound (the kdb/pandas `asof(...,
    // tolerance=)` contract): a match older than 6 h is discarded —
    // attribution windows, not just "most recent ever". Tolerance is a
    // post-predicate on the as-of result, so the scale shape is exactly
    // AsOfJoin's union+window formulation (no extra shuffle); the oracle
    // replays it on DuckDB's native ASOF JOIN, a different algorithm.
    "q_asof_tolerance" -> ((s, dir) => {
      val tolUs = 21600000000L
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sts"))
      graft.ops.AsOfJoin.asOf(purchases, signups,
          key = "user_id", leftTs = "ts", rightTs = "sts", payload = Seq("sts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(col("sts_asof")))
        .withColumn("sts_tol", when(col("gap_us") <= tolUs, col("sts_asof")))
        .groupBy("user_id").agg(
          count(lit(1)).as("n_purch"),
          count(col("sts_asof")).as("n_matched"),
          count(col("sts_tol")).as("n_within_tol"),
          sum(when(col("sts_tol").isNotNull, col("gap_us")).otherwise(0L))
            .as("sum_gap_us"))
    }),

    // Market-basket association rules: baskets = orders, items = the
    // part BRANDS in the basket (the partkey→brand enrich is a plain
    // equi-join Catalyst/AQE broadcasts when the part side fits and
    // shuffles when it doesn't). The pair join is per-basket bounded —
    // TPC-H baskets hold ≤7 lines, so candidates are O(orders · 21); an
    // adversarial giant basket would take the Dedup.DefaultMaxBucket
    // chain cap, same pathology, same cure. Confidence is exact integer
    // ppm; lift replays one pinned left-associated double chain (every
    // intermediate ≤1e11 — far under 2^53 — so both engines round
    // identically).
    "q_assoc_rules" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      val p = Tables.part(s, dir).select("p_partkey", "p_brand")
      val items = li.join(p, li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct()
      val supp = items.groupBy("b").agg(count(lit(1)).as("supp"))
      val tot = items.agg(countDistinct(col("ok")).as("n_orders"))
      val a = items.toDF("ok", "ante")
      val b = items.toDF("ok", "cons")
      val pairs = a.join(b, a("ok") === b("ok") && col("ante") < col("cons"))
        .groupBy("ante", "cons").agg(count(lit(1)).as("supp_ab"))
      pairs
        .join(broadcast(supp.toDF("ante", "supp_a")), "ante")
        .join(broadcast(supp.toDF("cons", "supp_b")), "cons")
        .crossJoin(broadcast(tot))
        .select(col("ante"), col("cons"), col("supp_ab"),
          col("supp_a"), col("supp_b"),
          expr("(1000000 * supp_ab) div supp_a").as("conf_ppm"),
          floor(lit(1e6) * col("supp_ab").cast("double") /
            col("supp_a") / col("supp_b") * col("n_orders"))
            .cast("long").as("lift_ppm"))
    }),

    // Streaming trending monitor — q_trending_decay at ingest: per
    // (event_type, day) counts aggregate in Update mode (O(types×days)
    // state, monotone ⇒ plain-max landing compaction), the dyadic decay
    // applies batch-side over the compacted config-scale table. Oracle =
    // the batch trending score, which the streamed monitor must equal
    // exactly (and the integer weights make that well-defined).
    "q_t19_streaming_trending" -> ((s, dir) => {
      val byDay = streamedTypeDayCounts(s, dir)
      val mx = byDay.agg(max(col("day")).as("maxd"))
      byDay.crossJoin(broadcast(mx))
        .withColumn("age", (col("maxd") - col("day")).cast("int"))
        .filter(col("age") <= 30)
        .withColumn("w", col("n") * expr("shiftleft(1L, 30 - age)"))
        .groupBy("event_type")
        .agg(sum(col("w")).as("score_u"),
          round(sum(col("w")).cast("double") / lit(1073741824.0), 6)
            .as("score"))
    }),

    // Streaming trending heavy hitters — q_t13's Misra-Gries state
    // composed with q_trending_decay's dyadic weights: per-DAY candidate
    // tables stream in Update mode (O(days × cap) state), and the
    // readout recounts ONLY the candidate union under the exact integer
    // decay. The guarantee composes: a topic with decayed score above
    // mass/(cap+1) must, by averaging over days, exceed N_d/(cap+1) on
    // some day, so it is in that day's candidate set — making the
    // filtered output EQUAL to the naive full-vocabulary oracle while
    // only O(cap) state per day ever crosses the stream. Threshold is
    // overflow-free integer math (score_u > mass_u div (cap+1), exactly
    // the > mass/(cap+1) test for integers).
    "q_t22_streaming_trending_heavy" -> ((s, dir) => {
      // dyadic weight sums widen through DECIMAL(38,0) (oracle: HUGEINT)
      // — Σ N_d·2^(30−age) crosses 2^63 near 9e9 in-window events; the
      // heavy test is the overflow-free integer comparison
      // score·(cap+1) > mass (⟺ score > mass/(cap+1) for integers).
      // The DISPLAYED score_u casts back to long — the 2^63 display
      // bound, not a threshold-math bound.
      val dec = "decimal(38,0)"
      val perDay = streamedDayHeavyCandidates(s, dir)
      val mx = perDay.agg(max(col("day")).as("maxd"))
      val aged = perDay.crossJoin(broadcast(mx))
        .withColumn("age", (col("maxd") - col("day")).cast("int"))
        .filter(col("age") <= 30)
      val mass = aged
        .agg(sum(col("total").cast(dec) * expr("shiftleft(1L, 30 - age)"))
          .as("mass_u"))
      val candTopics = aged.select(explode(col("cands")).as("topic")).distinct()
      Tables.events(s, dir)
        .withColumn("k", expr("from_json(props, 'k BIGINT').k"))
        .filter(col("k").isNotNull)
        .select(topicCol.as("topic"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .join(broadcast(candTopics), Seq("topic"))
        .groupBy("topic", "day").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(mx))
        .withColumn("age", (col("maxd") - col("day")).cast("int"))
        .filter(col("age") <= 30)
        .withColumn("w", col("n").cast(dec) * expr("shiftleft(1L, 30 - age)"))
        .groupBy("topic").agg(sum(col("w")).as("score_u"))
        .crossJoin(broadcast(mass))
        .filter(col("score_u") * lit(TrendingHeavyCap + 1) > col("mass_u"))
        .select(col("topic"), col("score_u").cast("long").as("score_u"),
          round(col("score_u").cast("double") / lit(1073741824.0), 6)
            .as("score"))
    }),

    // Per-series OLS trend — slope/intercept of daily volume per
    // event_type from exact integer moments (the correlation-family
    // discipline: one aggregate carries n/Σx/Σy/Σxx/Σxy as Longs, the
    // line parameters are pinned double chains at the end). Day counts
    // are config-scale, so this is one corpus aggregate + one tiny one.
    "q_stat_regression" -> ((s, dir) => {
      val byDay = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y"))
      val m = byDay.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("day") * col("day")).as("sxx"),
        sum(col("day") * col("y")).as("sxy"))
      // A series spanning exactly one distinct day has zero x-variance:
      // n*sxx - sx*sx = 0, where Spark's double division yields NaN but
      // DuckDB returns NULL. Guard the degenerate fit on BOTH sides
      // (slope 0, intercept = mean) so the oracle contract holds on any
      // input, not just fixtures that happen to span multiple days.
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val slope = when(den === 0, lit(0.0)).otherwise(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          den.cast("double"))
      m.select(col("event_type"), col("n").as("n_days"),
        (round(slope, 6) + lit(0.0)).as("slope"),
        (round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double"), 4) + lit(0.0)).as("intercept"))
    }),

    // Time-series gap fill — the resampling primitive every downstream
    // window/trend consumer assumes: complete each series' day grid
    // (min..max per type) and fill missing days with zero. The grid
    // GENERATES from the config-scale per-type range via sequence —
    // never a driver-side calendar — and the fill is one left join.
    "q_ts_gapfill" -> ((s, dir) => {
      val byDay = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val grid = byDay.groupBy("event_type")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .withColumn("day", explode(sequence(col("d0"), col("d1"))))
        .select("event_type", "day")
      grid.join(byDay, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // Exponentially smoothed daily series (EWMA, half-life 1 day) — the
    // q_trending_decay weights reported at EVERY day, not only the
    // latest: each (type, day) count scatters onto the ≤31 report days
    // it influences with dyadic integer weights (the invert-the-window
    // trick — never a per-day backward scan), summed exactly. Weight
    // sums widen through DECIMAL(38,0)/HUGEINT (the t22 discipline);
    // the display cast documents the 2^63 bound.
    "q_ts_ewma" -> ((s, dir) =>
      graft.ops.TimeSeries.ewmaDaily(Tables.events(s, dir),
        col("event_type"), col("ts"), windowDays = 31, halfLifeDays = 1)),

    // Lag-k autocorrelation (k = 1..3) of the GAP-FILLED daily series —
    // the periodicity readout behind seasonality/beaconing hunches, as
    // exact integer moment sums per (series, lag): the gap-filled grid
    // (missing days count 0 — ACF over a sparse series without fill is a
    // different, misleading statistic), one equi-join of the series onto
    // itself shifted by the exploded lag (day+lag is a join KEY, never a
    // per-lag rescan), Pearson sums in BIGINT (daily counts bound the
    // products far under 2^63), one final float expression with each
    // factor sqrt'd separately (the q_feat_corr discipline). Zero
    // variance on either side (constant series) → 0.0 on BOTH engines —
    // the NaN-vs-NULL guard q_stat_regression learned.
    "q_ts_acf" -> ((s, dir) => {
      val byDay = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val filled = graft.ops.CacheRegistry.persist(
        byDay.groupBy("event_type")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .withColumn("day", explode(sequence(col("d0"), col("d1"))))
          .select("event_type", "day")
          .join(byDay, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            coalesce(col("n"), lit(0L)).as("x")))
      val paired = filled
        .withColumn("lag", explode(typedLit(Seq(1L, 2L, 3L))))
        .withColumn("rday", col("day") + col("lag"))
        .join(filled.select(col("event_type"), col("day").as("rday"),
          col("x").as("y")), Seq("event_type", "rday"))
      val dxx = col("n_pairs") * col("sx2") - col("sx") * col("sx")
      val dyy = col("n_pairs") * col("sy2") - col("sy") * col("sy")
      paired.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n_pairs"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select(col("event_type"), col("lag"), col("n_pairs"),
          when(dxx === 0 || dyy === 0, lit(0.0)).otherwise(
            round((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              (sqrt(dxx.cast("double")) * sqrt(dyy.cast("double"))), 4)
              + lit(0.0)).as("acf"))
    }),

    // CUSUM changepoint candidate — per series, the day where the
    // cumulative deviation from the series mean peaks (the classic
    // level-shift detector). EXACT integers end to end: the fractional
    // mean never appears — cusum_t = Σ_{i≤t}(N·x_i − T) is the
    // N-scaled CUSUM (N = series length, T = series total), so the
    // argmax day is bit-deterministic under any partitioning; ties break
    // to the earliest day. Gap-filled grid (a missing day IS a deviation)
    // and a broadcast of the config-scale per-series (N, T) frame.
    // Headroom: |cusum| ≤ N·T — a decade of days (N ≈ 3.7e3) against a
    // 100 TB corpus (T ≈ 1e12 events) is ~4e15, far inside 2^63; the
    // oracle's HUGEINT→BIGINT cast errors loudly past the bound.
    "q_ts_cusum" -> ((s, dir) => {
      val byDay = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val filled = byDay.groupBy("event_type")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .withColumn("day", explode(sequence(col("d0"), col("d1"))))
        .select("event_type", "day")
        .join(byDay, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("x"))
      val st = filled.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum(col("x")).as("tot"))
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(abs(col("cusum")).desc, col("day"))
      filled.join(broadcast(st), "event_type")
        .withColumn("cusum", sum(col("nd") * col("x") - col("tot")).over(cw))
        .withColumn("rn", row_number().over(rk))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("cp_day"), col("cusum"),
          col("nd").as("n_days"))
    }),

    // Per-user behavioral entropy — Shannon entropy of each user's
    // event-type mix (uniform mixes score high, single-type bots score
    // 0), the account-triage diversity signal. The distributed double
    // sum Σ nᵢ·ln(nᵢ) is floor-quantized to integer MICROS per term
    // before summation (the BM25 cents discipline — double addition is
    // order-dependent and a shuffle has no order), then one final float
    // chain H = ln(n) − q/10⁶/n, mirrored token for token in the oracle.
    "q_user_entropy" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("ni"))
        .withColumn("qi", floor(col("ni").cast("double") *
          log(col("ni").cast("double")) * lit(1000000.0)).cast("long"))
        .groupBy("user_id")
        .agg(sum(col("ni")).as("n_events"), count(lit(1)).as("n_types"),
          sum(col("qi")).as("q"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          (round(log(col("n_events").cast("double")) -
            col("q").cast("double") / lit(1000000.0) /
              col("n_events").cast("double"), 4) + lit(0.0)).as("entropy"))
    }),

    // Day-of-week seasonal index — idx_ppm = 10⁶ · (dow share · 7), the
    // per-series weekly profile a forecasting/capacity readout starts
    // from. dow = day % 7 (pure integer epoch arithmetic — Spark's and
    // DuckDB's dayofweek() disagree on week start, day%7 cannot). The
    // per-series totals frame is config-scale → broadcast. Headroom:
    // 7·10⁶·n needs n < 1.3e12 events per (series, dow) — above a
    // 100 TB corpus's total; DuckDB would error (not wrap) first.
    "q_ts_dow_seasonality" -> ((s, dir) => {
      val byDow = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
        .agg(count(lit(1)).as("n"))
      val tot = byDow.groupBy("event_type").agg(sum(col("n")).as("n_total"))
      byDow.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow"), col("n"),
          expr("(7 * n * 1000000) div n_total").as("idx_ppm"))
    }),

    // Volume-spike detection — the reference's security domain (a surge
    // of one event type against its own trailing week is the classic
    // triage signal): per (type, day), the trailing-7-day event sum via
    // a RANGE window (days are sparse — a ROWS frame would silently
    // reach past the week on gappy series), spike score as the exact
    // integer ppm ratio of today's count to the trailing daily mean.
    // Days with an empty trailing frame (series start) carry no
    // denominator and are excluded on both engines identically.
    // Headroom: 7·10⁶·n bounds daily counts at 1.3e12 (cf. the dow
    // index note) — far past any per-(series, day) reality.
    "q_sec_spike" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rangeBetween(-7, -1)
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("trail7", sum(col("n")).over(w))
        .filter(col("trail7").isNotNull && col("trail7") > 0)
        .select(col("event_type"), col("day"), col("n"), col("trail7"),
          expr("(7 * n * 1000000) div trail7").as("spike_ppm"))
    }),

    // First-seen census — "new behavior" detection (a (user, event_type)
    // pair appearing for the first time is the anomaly primitive under
    // lateral-movement / new-service alerts): per day, how many active
    // pairs, how many of them are first-ever-seen. One (user, type, day)
    // aggregate feeds both sides; the pair-first-day table is key-scale
    // (distinct (user, type)), never event-scale.
    "q_sec_first_seen" -> ((s, dir) => {
      val pairDays = graft.ops.CacheRegistry.persist(
        Tables.events(s, dir)
          .groupBy(col("user_id"), col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n_ev")))
      val newPerDay = pairDays.groupBy("user_id", "event_type")
        .agg(min(col("day")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new_pairs"))
      pairDays.groupBy("day")
        .agg(count(lit(1)).as("n_active_pairs"), sum(col("n_ev")).as("n_events"))
        .join(newPerDay, Seq("day"), "left")
        .select(col("day"), col("n_active_pairs"), col("n_events"),
          coalesce(col("n_new_pairs"), lit(0L)).as("n_new_pairs"))
    }),

    // Beaconing / periodicity detector — the reference's security-
    // analytics domain (regular-interval callbacks stand out by LOW
    // inter-arrival variance): per user, second-granularity gaps from
    // one (user, ts) shuffle, exact integer moment sums (DECIMAL-widened
    // only in the final variance numerator — Σgap² per user brushes
    // 2^63), coefficient of variation as the periodicity score. Ties in
    // ts order produce zero gaps regardless of tie-break — the gap
    // MULTISET is order-invariant, which is what the moments consume.
    "q_sec_beaconing" -> ((s, dir) => {
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"))
        .withColumn("gap_s",
          expr("(t - lag(t, 1) OVER (PARTITION BY user_id " +
            "ORDER BY t, event_id)) div 1000000"))
        .filter(col("gap_s").isNotNull)
      beaconReadout(gaps.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum(col("gap_s")).as("sg"),
        sum(col("gap_s") * col("gap_s")).as("sgg")))
    }),

    // Beaconing AT INGEST — q_sec_beaconing's moment accumulators as
    // mapGroupsWithState streaming state (O(1) per user) over the
    // ordered topic; the shared CV readout applies batch-side to the
    // compacted moments and must equal the batch window scan exactly
    // (shared oracle).
    // First-seen AT INGEST (the q_sec_first_seen primitive as a live
    // alert): per-user seen-type state in flatMapGroupsWithState
    // (config-scale per key, EventTimeTimeout retention), each novel
    // (user, type) pair emitted exactly once in Append mode — the
    // landing needs no compaction; the per-day census equals the batch
    // first-seen census exactly (shared derivation in the oracle).
    "q_t27_streaming_first_seen" -> ((s, dir) => streamedFirstSeen(s, dir)),

    "q_t26_streaming_beacon" -> ((s, dir) =>
      beaconReadout(streamedBeaconMoments(s, dir))),

    // Ordered per-user event-sequence export — the behavioral
    // training-sequence construction (user2vec / next-event-model input):
    // each user's full event path as one ordered string. One shuffle on
    // user_id; the per-user array is bounded by per-user activity (the
    // attribution/funnel bound), array_sort on the (ts, event_id, type)
    // struct makes the order total and tie-free, and the oracle
    // re-derives it with ORDER BY inside string_agg — two independent
    // ordered-aggregation implementations agreeing byte for byte.
    "q_user_event_path" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("t"), col("event_id"),
              col("event_type")))),
            e => e.getField("event_type")), ">").as("path"))
    }),

    // Native session windows, STREAMED — the stateful session_window
    // aggregation under a watermark (merging per-user session state
    // across micro-batches, Append emission on session close). Must
    // equal the batch q_sessionize_native exactly; shares its oracle.
    "q_t24_streaming_session_native" -> ((s, dir) => {
      streamedNativeSessions(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("span_us")).as("max_span_us"))
    }),

    // Streaming UPSERT / CDC-apply — the change stream maintains a
    // compacted latest-per-key state table via bucket-pruned dynamic
    // partition overwrite (UpsertSink). The query reads the final state;
    // the oracle derives the same per-user latest row from the raw
    // events with a window — state == latest-per-key is the upsert
    // contract, and (ts, event_id) ordering makes it tie-free.
    "q_t23_streaming_upsert" -> ((s, dir) => {
      Tables.parquet(s, streamedUpsertState(s, dir))
        .select(col("user_id"), col("ts_us").as("last_ts_us"),
          col("event_type").as("last_type"), col("cents").as("last_cents"))
    }),

    // Stream-stream LEFT OUTER interval join — the watermark-dependent
    // member of the streaming join layer (inner = q_t4): matched pairs
    // append on arrival, but an UNMATCHED purchase emits its null-padded
    // row only when the watermark proves no in-window signup can still
    // arrive. The landing drains AvailableNow and then advances the
    // watermark past the data with two sentinel batches (the
    // streamedSessions sentinel pattern — without them the tail's outer
    // rows stay buffered forever, the classic stream-outer-join trap).
    // Oracle = the batch LEFT JOIN with the identical interval predicate;
    // sentinels are keyed negative and filtered read-side.
    "q_t21_streaming_leftjoin" -> ((s, dir) => {
      streamedLeftOuterJoin(s, dir)
        .groupBy(col("u").as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("sts")).as("n_matched"),
          sum(when(col("sts").isNotNull,
            unix_micros(col("pts")) - unix_micros(col("sts")))
            .otherwise(0L)).as("sum_gap_us"))
    }),

    // Streaming rolling-WAU — the ingest-time shape of q_rolling_wau_hll:
    // per-(day, register) max-rho aggregates in Update mode (O(days × M)
    // state; rho maxes are monotone ⇒ plain-max landing compaction — the
    // fourth mergeable-sketch shape pinned streaming-safe), the 7-day
    // register merge + estimate + exact comparison run batch-side over
    // the compacted config-scale register table. Oracle IS
    // q_rolling_wau_hll's SQL: the streamed registers must reproduce the
    // batch registers exactly, so the whole readout matches bit for bit.
    "q_t20_streaming_wau" -> ((s, dir) => {
      import graft.functions.Hll
      val dayRegs = streamedDayRegisters(s, dir)
      val merged = dayRegs
        .withColumn("rday", explode(sequence(col("day"), col("day") + 6)))
        .groupBy("rday", "reg_idx").agg(max(col("rho")).as("rho"))
      val est = merged.groupBy("rday")
        .agg(count(lit(1)).as("n_present"),
          sum(Hll.registerTerm("rho")).as("s_present"))
        .select(col("rday").as("day"),
          (lit(Hll.M.toLong) - col("n_present")).as("n_zero"),
          Hll.harmonicS(col("n_present"), col("s_present")).as("harmonic_s"))
        .select(col("day"),
          Hll.estimate(col("n_zero"), col("harmonic_s")).as("wau_est"))
      val ev = Tables.events(s, dir).select(
        expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      val exact = ev.select("user_id", "day").distinct()
        .withColumn("rday", explode(sequence(col("day"), col("day") + 6)))
        .select("user_id", "rday").distinct()
        .groupBy(col("rday").as("day")).agg(count(lit(1)).as("wau_exact"))
      ev.select("day").distinct()
        .join(est, "day").join(exact, "day")
        .select(col("day"), col("wau_est"), col("wau_exact"))
    }),

    // Streaming time-bounded funnel — q_funnel_timebound at ingest: a
    // per-user stage machine in mapGroupsWithState (O(1) state/user,
    // set-once fields ⇒ monotone emissions ⇒ plain-max landing
    // compaction), fed by a time-ordered topic (the Kafka per-key
    // ordering contract — see StreamingFunnel scaladoc). The oracle IS
    // the batch funnel's SQL: under ordered delivery the machine's
    // first-qualifying-in-order == the batch min-over-window, so the
    // streamed census must match the batch census bit for bit.
    "q_t18_streaming_funnel" -> ((s, dir) => {
      val fin = streamedFunnelStages(s, dir)
      fin.filter(col("stage") >= 1).agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("stage"), col("n_users"), lit(0L).as("sum_gap_us"))
        .unionByName(fin.filter(col("stage") >= 2)
          .agg(count(lit(1)).as("n_users"),
            sum(col("t2") - col("t1")).as("sum_gap_us"))
          .select(lit(2L).as("stage"), col("n_users"), col("sum_gap_us")))
        .unionByName(fin.filter(col("stage") >= 3)
          .agg(count(lit(1)).as("n_users"),
            sum(col("t3") - col("t2")).as("sum_gap_us"))
          .select(lit(3L).as("stage"), col("n_users"), col("sum_gap_us")))
    }))

  private def sqlRollingWauHll: String = {
      import graft.functions.Hll
      val zero = s"(${Hll.M} - n_present)"
      val harmonic = s"(s_present + (${Hll.M} - n_present) * ${Hll.Pow52})"
      s"""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id
         |  FROM events),
         |h AS (SELECT day,
         |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
         |  FROM ev),
         |regs AS (SELECT day, ${Hll.sqlRegIdx("h")} AS reg_idx,
         |    CAST(max(${Hll.sqlRho("h")}) AS INT) AS rho
         |  FROM h GROUP BY 1, 2),
         |m AS (SELECT day + i AS rday, reg_idx, max(rho) AS rho
         |  FROM regs, unnest(generate_series(0, 6)) t(i) GROUP BY 1, 2),
         |agg AS (SELECT rday, count(*) AS n_present,
         |    CAST(sum(${Hll.sqlRegisterTerm("rho")}) AS BIGINT) AS s_present
         |  FROM m GROUP BY 1),
         |ex AS (SELECT rday, count(*) AS wau_exact FROM
         |  (SELECT DISTINCT user_id, day + i AS rday
         |   FROM (SELECT DISTINCT user_id, day FROM ev) ud,
         |     unnest(generate_series(0, 6)) t(i)) x
         |  GROUP BY 1),
         |ad AS (SELECT DISTINCT day FROM ev)
         |SELECT ad.day, ${Hll.sqlEstimate(zero, harmonic)} AS wau_est,
         |  CAST(wau_exact AS BIGINT) AS wau_exact
         |FROM ad JOIN agg ON agg.rday = ad.day JOIN ex ON ex.rday = ad.day""".stripMargin
    }

  /** Shared CV readout over per-user gap moments (n, sg, sgg) — used by
    * the batch and streamed beaconing queries so the pinned double chain
    * exists exactly once. cv := 0 when every gap is zero (a burst key
    * emitting 10+ events inside one second has mean 0, and 0/0 = NaN
    * whose repr/ordering semantics differ across engines — the oracle
    * carries the same guard).
    */
  private def beaconReadout(m: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val mean = col("sg").cast("double") / col("n").cast("double")
    val varr = (col("n").cast(dec) * col("sgg").cast(dec) -
      col("sg").cast(dec) * col("sg").cast(dec)).cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    val cv = when(col("sg") === 0L, lit(0.0)).otherwise(sqrt(varr) / mean)
    m.filter(col("n") >= 10)
      .select(col("user_id"), col("n").as("n_gaps"),
        (round(mean, 4) + lit(0.0)).as("mean_gap_s"),
        (round(cv, 4) + lit(0.0)).as("cv"),
        (cv < 0.5).as("periodic"))
  }

  /** Shared oracle for the batch and streamed beaconing detectors: the
    * gap multiset from the (user, ts, event_id)-ordered window, exact
    * integer moments (HUGEINT-widened), pinned double CV chain with the
    * zero-mean guard.
    */
  private def sqlBeaconing: String =
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
      |  FROM events),
      |m AS (SELECT user_id, count(*) AS n,
      |    sum(gap_s) AS sg, sum(gap_s * gap_s) AS sgg
      |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
      |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
      |  round(CAST(sg AS DOUBLE) / n, 4) + 0.0 AS mean_gap_s,
      |  round(CASE WHEN sg = 0 THEN 0.0 ELSE
      |    sqrt(CAST(n*sgg - sg*sg AS DOUBLE) / (CAST(n AS DOUBLE) * n))
      |      / (CAST(sg AS DOUBLE) / n) END, 4) + 0.0 AS cv,
      |  (CASE WHEN sg = 0 THEN 0.0 ELSE
      |    sqrt(CAST(n*sgg - sg*sg AS DOUBLE) / (CAST(n AS DOUBLE) * n))
      |      / (CAST(sg AS DOUBLE) / n) END) < 0.5 AS periodic
      |FROM m WHERE n >= 10""".stripMargin

  /** Shared oracle for the batch and streamed native session windows:
    * the >=-gap islands replay (session_window's exclusive window end —
    * an event exactly at prev+gap starts a NEW session, unlike
    * q_sessionize's strict-> rule).
    */
  private def sqlSessionNative: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events,
      |    epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
      |  FROM sessions GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(max(span_us) AS BIGINT) AS max_span_us
      |FROM per_session GROUP BY 1""".stripMargin

  private def sqlTrending: String =
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |c AS (SELECT event_type, day, count(*) AS n FROM d GROUP BY 1, 2),
      |m AS (SELECT max(day) AS maxd FROM c),
      |w AS (SELECT event_type,
      |    n * (CAST(1 AS BIGINT) << (30 - CAST(maxd - day AS INTEGER))) AS w
      |  FROM c, m WHERE maxd - day <= 30)
      |SELECT event_type, CAST(sum(w) AS BIGINT) AS score_u,
      |  round(CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) / 1073741824.0, 6)
      |    AS score
      |FROM w GROUP BY 1""".stripMargin

  /** Pin a strictly increasing mtime on every file the latest sequential
    * write just landed in `dir`, so the file source's mtime ordering is
    * deterministic even on filesystems with coarse (e.g. 1 s) timestamp
    * granularity — replaces the Thread.sleep(5) that relied on sub-second
    * mtimes. `seen` tracks already-pinned paths across writes; `batch`
    * spaces them 60 s apart (well inside the source's maxFileAge window).
    */
  private def pinLandingOrder(dir: String, seen: scala.collection.mutable.Set[String],
                              base: Long, batch: Int): Unit = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isFile && !seen.contains(f.getPath)).foreach { f =>
      require(f.setLastModified(base + batch * 60000L),
        s"pinLandingOrder: cannot set mtime on ${f.getPath}")
      seen.add(f.getPath)
    }
  }

  /** Landing for q_t21_streaming_leftjoin: purchases LEFT OUTER signups
    * within a backward 1-hour window. The topic lands as THREE
    * sequentially-written files (mtime-ordered at maxFilesPerTrigger=1):
    * all real events, then two sentinel batches 30/60 days past the data
    * — the first advances the watermark so every real unmatched purchase
    * emits during the second. Sentinel keys are negative and filtered on
    * read; their own outer rows die with the state at query stop.
    */
  private val streamLeftJoinPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedLeftOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val out = streamLeftJoinPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_loj_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
      val seen = scala.collection.mutable.Set.empty[String]
      val mtimeBase = System.currentTimeMillis() - 600000L
      ev.select(to_json(struct(col("user_id"), col("event_type"),
          col("ts_us"))).as("value"))
        .coalesce(1).write.mode("append").text(src)
      pinLandingOrder(src, seen, mtimeBase, 0)
      Seq(30L, 60L).zipWithIndex.foreach { case (d, i) =>
        val t = maxUs + d * 86400000000L
        s.createDataFrame(Seq(
            (-1L, "purchase", t), (-2L, "signup", t)))
          .toDF("user_id", "event_type", "ts_us")
          .select(to_json(struct(col("user_id"), col("event_type"),
            col("ts_us"))).as("value"))
          .coalesce(1).write.mode("append").text(src)
        pinLandingOrder(src, seen, mtimeBase, i + 1)
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_type STRING, ts_us BIGINT")
      def side(t: String, key: String, ts: String) =
        graft.streaming.KafkaSource.decodeJson(
            s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
          .filter(col("event_type") === t)
          .select(col("user_id").as(key),
            timestamp_micros(col("ts_us")).as(ts))
      val joined = graft.streaming.StreamingJoins.intervalJoinLeftOuter(
        side("purchase", "u", "pts"), side("signup", "su", "sts"),
        keyL = "u", keyR = "su", tsL = "pts", tsR = "sts",
        windowSec = 3600L, lateness = "1 hour")
        .select(col("u"), col("pts"), col("sts"))
      graft.streaming.Landing.availableNow(joined, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Append)
      sink
    })
    Tables.parquet(s, out).filter(col("u") >= 0L)
  }

  /** Landing for q_t20_streaming_wau: events as a JSON topic, per-(day,
    * register) max-rho in Update mode; rho is monotone non-decreasing per
    * (day, register) so the read side compacts with max.
    */
  private val streamWauPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedDayRegisters(s: SparkSession, dir: String): DataFrame = {
    val out = streamWauPaths.getOrElseUpdate(dir, {
      import graft.functions.{Hashing, Hll}
      val root = java.nio.file.Files.createTempDirectory("graft_stream_wau_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      Tables.events(s, dir)
        .select(to_json(struct(col("user_id"),
          unix_micros(col("ts")).as("ts_us"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts_us BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val h = Hashing.md5Long(col("user_id").cast("string"))
      val regs = decoded
        .select(expr("ts_us div 86400000000").as("day"),
          Hll.regIdx(h).as("reg_idx"), Hll.rho(h).as("rho"))
        .groupBy("day", "reg_idx").agg(max(col("rho")).as("rho"))
      graft.streaming.Landing.availableNow(regs, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("day", "reg_idx")
      .agg(max(col("rho")).as("rho"))
  }

  /** Landing for q_t22_streaming_trending_heavy: events as a JSON topic,
    * per-DAY Misra-Gries candidate tables (cap entries) plus the day's
    * row count, in Update mode — O(days × cap) state, the windowed
    * composition of q_t13's sketch state with q_t19's per-day cadence.
    * Candidate arrays are merge-order-dependent but the day TOTAL is
    * strictly monotone, so the read side keeps each day's LATEST
    * emission (row_number over total desc) — the emission whose table
    * saw all of the day's rows and therefore carries the full MG
    * superset guarantee for that day.
    */
  private val TrendingHeavyCap = 48
  private val streamTrendHeavyPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def topicCol: Column =
    concat(col("event_type"), lit("#"), expr("CAST(k div 10 AS STRING)"))
  private def streamedDayHeavyCandidates(s: SparkSession, dir: String): DataFrame = {
    val out = streamTrendHeavyPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_trendheavy_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      Tables.events(s, dir)
        .select(to_json(struct(col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("props"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_type STRING, ts_us BIGINT, props STRING")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val sk = decoded
        .withColumn("k", expr("from_json(props, 'k BIGINT').k"))
        .filter(col("k").isNotNull)
        .select(topicCol.as("topic"), expr("ts_us div 86400000000").as("day"))
        .groupBy("day")
        .agg(graft.functions.MisraGries.candidates(col("topic"),
            TrendingHeavyCap).as("cands"),
          count(lit(1)).as("total"))
      graft.streaming.Landing.availableNow(sk, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("total").desc)
    Tables.parquet(s, out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("day", "cands", "total")
  }

  /** Landing for q_t23_streaming_upsert: the events change stream drains
    * through [[graft.streaming.UpsertSink]] into a bucket-partitioned
    * latest-per-key state table — per batch only the touched buckets are
    * read, merged, and dynamically overwritten (see UpsertSink scaladoc
    * for the scale contract). Returns the state path.
    */
  private val streamUpsertPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedUpsertState(s: SparkSession, dir: String): String =
    streamUpsertPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_upsert_").toString
      val src = s"$root/src"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
      Tables.events(s, dir)
        .select(to_json(struct(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_id"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts_us BIGINT, event_type STRING, " +
          "cents BIGINT, event_id BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      graft.streaming.UpsertSink.availableNow(decoded, state, ckpt,
        keyCol = "user_id", orderCols = Seq("ts_us", "event_id"))
      state
    })

  /** Landing for q_t24_streaming_session_native: Spark's built-in
    * `session_window` as a STATEFUL STREAMING aggregation (merging
    * session state per user under a watermark, Append mode — sessions
    * emit only once the watermark proves them closed). All real events
    * land as ONE file/batch (watermark still unset during batch 0 ⇒
    * nothing drops as late), then two sentinel batches 30/60 days out
    * advance the watermark so every real session flushes — the t21
    * sentinel discipline. Sentinel sessions are negative-keyed and
    * filtered on read.
    */
  private val streamSessionNativePaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedNativeSessions(s: SparkSession, dir: String): DataFrame = {
    val out = streamSessionNativePaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_sessnat_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
      val seen = scala.collection.mutable.Set.empty[String]
      val mtimeBase = System.currentTimeMillis() - 600000L
      ev.select(to_json(struct(col("user_id"), col("ts_us"))).as("value"))
        .coalesce(1).write.mode("append").text(src)
      pinLandingOrder(src, seen, mtimeBase, 0)
      Seq(30L, 60L).zipWithIndex.foreach { case (d, i) =>
        s.createDataFrame(Seq((-1L, maxUs + d * 86400000000L)))
          .toDF("user_id", "ts_us")
          .select(to_json(struct(col("user_id"), col("ts_us"))).as("value"))
          .coalesce(1).write.mode("append").text(src)
        pinLandingOrder(src, seen, mtimeBase, i + 1)
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, ts_us BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
          s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"))
      val sess = decoded.withWatermark("ts", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("span_us"))
        .select("user_id", "n_events", "span_us")
      graft.streaming.Landing.availableNow(sess, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Append)
      sink
    })
    Tables.parquet(s, out).filter(col("user_id") >= 0)
  }

  /** Landing for q_t26_streaming_beacon: the events topic as FOUR
    * ts-ranged slices written sequentially (the t18 funnel's ordered-
    * topic contract — a user's events arrive in time order across
    * batches), per-user gap moment accumulators via
    * [[graft.streaming.StreamingBeacon]] in Update mode. All emitted
    * fields are monotone, so the read side compacts with per-user max.
    */
  private val streamBeaconPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedBeaconMoments(s: SparkSession, dir: String): DataFrame = {
    val out = streamBeaconPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_beacon_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val ev = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("event_id"))
      val (lo, hi) = {
        val r = ev.agg(min("t_us"), max("t_us")).head()
        (r.getLong(0), r.getLong(1))
      }
      val step = math.max(1L, (hi - lo) / 4 + 1)
      val seen = scala.collection.mutable.Set.empty[String]
      val mtimeBase = System.currentTimeMillis() - 600000L
      (0 until 4).foreach { i =>
        ev.filter(col("t_us") >= lo + i * step &&
            col("t_us") < lo + (i + 1) * step || lit(i == 3) &&
            col("t_us") >= lo + 4 * step)
          .orderBy("t_us")
          .select(to_json(struct(col("user_id"), col("t_us"),
            col("event_id"))).as("value"))
          .coalesce(1).write.mode("append").text(src)
        pinLandingOrder(src, seen, mtimeBase, i)
      }
      // watermark sentinel (the t24 discipline): flush the sub-ms tail
      // the ms-granularity watermark can never pass; filtered on read
      s.createDataFrame(Seq((-1L, hi + 86400000000L, 0L)))
        .toDF("user_id", "t_us", "event_id")
        .select(to_json(struct(col("user_id"), col("t_us"),
          col("event_id"))).as("value"))
        .coalesce(1).write.mode("append").text(src)
      pinLandingOrder(src, seen, mtimeBase, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, t_us BIGINT, event_id BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      // idle-TTL sized past the fixture topic's span (the detection
      // window here is the whole topic): state stays bounded by contract,
      // nothing expires mid-stream, oracle unchanged. The expiry path is
      // pinned in StreamingTtlSpec on a short-horizon fixture.
      val rows = graft.streaming.StreamingBeacon.gaps(s, decoded,
        idleHorizonUs = 365L * 86400000000L)
      graft.streaming.Landing.availableNow(rows.toDF(), sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).filter(col("user_id") >= 0).groupBy("user_id")
      .agg(max(col("n_gaps")).as("n"), max(col("sg")).as("sg"),
        max(col("sgg")).as("sgg"))
  }

  /** Landing for q_t19_streaming_trending: events as a JSON topic,
    * per-(type, day) counts in Update mode; counts are monotone so the
    * read side compacts with max — the t15/t16/t17 landing discipline.
    */
  private val streamTrendingPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedTypeDayCounts(s: SparkSession, dir: String): DataFrame = {
    val out = streamTrendingPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_trend_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      Tables.events(s, dir)
        .select(to_json(struct(col("event_type"),
          unix_micros(col("ts")).as("ts_us"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_type STRING, ts_us BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val counts = decoded
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      graft.streaming.Landing.availableNow(counts, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("event_type", "day")
      .agg(max(col("n")).as("n"))
  }

  private def sqlFunnel: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM ev
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT ev.user_id, min(t) AS t2, max(t1) AS g1
      |  FROM ev JOIN s1 ON ev.user_id = s1.user_id
      |  WHERE event_type = 'view' AND t > t1 AND t <= t1 + 86400000000
      |  GROUP BY 1),
      |s3 AS (SELECT ev.user_id, min(t) AS t3, max(t2) AS g2
      |  FROM ev JOIN s2 ON ev.user_id = s2.user_id
      |  WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 86400000000
      |  GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS stage, count(*) AS n_users,
      |  CAST(0 AS BIGINT) AS sum_gap_us FROM s1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(t2 - g1) AS BIGINT) FROM s2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), count(*), CAST(sum(t3 - g2) AS BIGINT) FROM s3""".stripMargin

  /** Landing for q_t27_streaming_first_seen: the t18 time-ordered topic
    * contract, per-(user, type) novelty emissions in APPEND mode — each
    * pair lands exactly once (state dedups), so the read side needs no
    * compaction at all; the census over the landed pairs must equal the
    * batch first-seen census exactly.
    */
  private val streamFirstSeenPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedFirstSeen(s: SparkSession, dir: String): DataFrame = {
    val out = streamFirstSeenPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_firstseen_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      val (lo, hi) = {
        val r = ev.agg(min("t_us"), max("t_us")).head()
        (r.getLong(0), r.getLong(1))
      }
      val step = math.max(1L, (hi - lo) / 4 + 1)
      val seen = scala.collection.mutable.Set.empty[String]
      val mtimeBase = System.currentTimeMillis() - 600000L
      (0 until 4).foreach { i =>
        ev.filter(col("t_us") >= lo + i * step &&
            col("t_us") < lo + (i + 1) * step || lit(i == 3) &&
            col("t_us") >= lo + 4 * step)
          .orderBy("t_us")
          .select(to_json(struct(col("user_id"), col("event_type"),
            col("t_us"))).as("value"))
          .coalesce(1).write.mode("append").text(src)
        pinLandingOrder(src, seen, mtimeBase, i)
      }
      // watermark sentinel (the t24 discipline): the buffered fold
      // releases events only once the ms-granularity watermark passes
      // them, and the watermark can never pass the topic's own max
      // event — a negative-keyed far-future row advances it so the tail
      // flushes; filtered on read
      s.createDataFrame(Seq((-1L, "x", hi + 86400000000L)))
        .toDF("user_id", "event_type", "t_us")
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("t_us"))).as("value"))
        .coalesce(1).write.mode("append").text(src)
      pinLandingOrder(src, seen, mtimeBase, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_type STRING, t_us BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      // novelty horizon sized past the topic span: streamed == all-time
      // batch first-seen (the TTL contract is "first seen within the
      // horizon"; expiry is pinned in StreamingTtlSpec)
      val pairs = graft.streaming.StreamingFirstSeen.firstSeen(s, decoded,
        idleHorizonUs = 365L * 86400000000L)
      graft.streaming.Landing.availableNow(pairs.toDF(), sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Append)
      sink
    })
    Tables.parquet(s, out).filter(col("user_id") >= 0).groupBy("day")
      .agg(count(lit(1)).as("n_new_pairs"))
  }

  /** Landing for q_t18_streaming_funnel: events as a time-ordered JSON
    * topic (four ts-ranged slices written SEQUENTIALLY so the file
    * source's mtime ordering delivers them in time order — the per-key
    * ordering a user-keyed Kafka topic guarantees), per-user stage rows
    * in Update mode, compacted with per-user max (every field monotone).
    */
  private val streamFunnelPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedFunnelStages(s: SparkSession, dir: String): DataFrame = {
    val out = streamFunnelPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_funnel_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      val (lo, hi) = {
        val r = ev.agg(min("t_us"), max("t_us")).head()
        (r.getLong(0), r.getLong(1))
      }
      val step = math.max(1L, (hi - lo) / 4 + 1)
      val seen = scala.collection.mutable.Set.empty[String]
      val mtimeBase = System.currentTimeMillis() - 600000L
      (0 until 4).foreach { i =>
        ev.filter(col("t_us") >= lo + i * step &&
            col("t_us") < lo + (i + 1) * step || lit(i == 3) &&
            col("t_us") >= lo + 4 * step)
          .orderBy("t_us")
          .select(to_json(struct(col("user_id"), col("event_type"),
            col("t_us"))).as("value"))
          .coalesce(1).write.mode("append").text(src)
        pinLandingOrder(src, seen, mtimeBase, i)
      }
      // watermark sentinel (the t24 discipline): flush the sub-ms tail
      // the ms-granularity watermark can never pass; filtered on read
      s.createDataFrame(Seq((-1L, "x", hi + 86400000000L)))
        .toDF("user_id", "event_type", "t_us")
        .select(to_json(struct(col("user_id"), col("event_type"),
          col("t_us"))).as("value"))
        .coalesce(1).write.mode("append").text(src)
      pinLandingOrder(src, seen, mtimeBase, 4)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_type STRING, t_us BIGINT")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      // idle-TTL sized past the fixture topic's span (the batch oracle
      // analyzes the whole topic as one funnel window, so the retention
      // horizon must cover it): state bounded by contract, nothing
      // expires mid-stream. Expiry is pinned in StreamingTtlSpec.
      val stages = graft.streaming.StreamingFunnel
        .funnel(s, decoded, windowUs = 86400000000L,
          idleHorizonUs = 365L * 86400000000L)
      graft.streaming.Landing.availableNow(stages.toDF(), sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).filter(col("user_id") >= 0).groupBy("user_id")
      .agg(max(col("stage")).as("stage"), max(col("t1")).as("t1"),
        max(col("t2")).as("t2"), max(col("t3")).as("t3"))
  }

  /** Test hook: the funnel landing's sink path for `dir` (materializes
    * the landing if the spec runs before the query has).
    */
  private[graft] def funnelSinkForTest(s: SparkSession, dir: String): String = {
    streamedFunnelStages(s, dir)
    streamFunnelPaths(dir)
  }

  val oracles: Map[String, String] = Map(

    "q_cohort_retention" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
        |act AS (SELECT m0 AS cohort_m, m - m0 AS offset_m,
        |    count(DISTINCT o.o_custkey) AS n_active
        |  FROM o JOIN f ON o.o_custkey = f.o_custkey GROUP BY 1, 2),
        |sz AS (SELECT cohort_m, n_active AS n_cohort FROM act
        |  WHERE offset_m = 0)
        |SELECT act.cohort_m, offset_m, n_active, n_cohort,
        |  (1000000 * n_active) // n_cohort AS retained_ppm
        |FROM act JOIN sz ON act.cohort_m = sz.cohort_m""".stripMargin,

    "q_cdc_scd2" ->
      """SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL AS is_current
        |FROM events""".stripMargin,

    "q_cdc_merge_apply" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |mx AS (SELECT max(o_orderkey) AS maxk FROM o),
        |ch AS (
        |  SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS p
        |    FROM o WHERE o_orderkey % 101 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice + 1.0
        |    FROM o WHERE o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + maxk, 'I', o_totalprice + 1000.0
        |    FROM o, mx WHERE o_orderkey % 89 = 0),
        |m AS (SELECT coalesce(ch.p, o.o_totalprice) AS p
        |  FROM o FULL JOIN ch ON o.o_orderkey = ch.k
        |  WHERE op IS DISTINCT FROM 'D'),
        |census AS (SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM m),
        |ops AS (SELECT
        |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |    CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
        |    CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins
        |  FROM ch)
        |SELECT * FROM census, ops""".stripMargin,

    "q_markov_transitions" ->
      """WITH t AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS next, count(*) AS n FROM t
        |  WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  (1000000 * n) // (CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT))
        |    AS p_ppm
        |FROM c""".stripMargin,

    "q_trending_decay" -> sqlTrending,

    // the streamed monitor's oracle IS the batch trending score
    "q_t19_streaming_trending" -> sqlTrending,

    "q_user_event_path" ->
      """SELECT user_id, count(*) AS n_events,
        |  string_agg(event_type, '>'
        |    ORDER BY epoch_us(ts), event_id) AS path
        |FROM events GROUP BY 1""".stripMargin,

    "q_stat_regression" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS y FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(day * day) AS BIGINT) AS sxx,
        |    CAST(sum(day * y) AS BIGINT) AS sxy
        |  FROM d GROUP BY 1),
        |s AS (SELECT event_type, n, sx, sy,
        |    CASE WHEN n*sxx - sx*sx = 0 THEN 0.0
        |         ELSE CAST(n*sxy - sx*sy AS DOUBLE)
        |           / CAST(n*sxx - sx*sx AS DOUBLE) END AS slope_raw
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  round(slope_raw, 6) + 0.0 AS slope,
        |  round((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE), 4) + 0.0 AS intercept
        |FROM s""".stripMargin,

    "q_ts_gapfill" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM d GROUP BY 1),
        |grid AS (SELECT event_type, d0 + i AS day
        |  FROM rng, unnest(generate_series(0, d1 - d0)) AS t(i))
        |SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
        |FROM grid g LEFT JOIN d ON d.event_type = g.event_type
        |  AND d.day = g.day""".stripMargin,

    "q_ts_ewma" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |m AS (SELECT max(day) AS maxd FROM d),
        |sc AS (SELECT event_type, day + i AS rday,
        |    CAST(n AS HUGEINT) * (CAST(1 AS BIGINT) << (30 - i)) AS w
        |  FROM d, unnest(generate_series(0, 30)) AS t(i), m
        |  WHERE day + i <= maxd)
        |SELECT event_type, rday AS day, CAST(sum(w) AS BIGINT) AS ewma_u,
        |  round(CAST(sum(w) AS DOUBLE) / 1073741824.0, 6) AS ewma
        |FROM sc GROUP BY 1, 2""".stripMargin,

    // same grid + fill as q_ts_gapfill, self-joined at day+lag; Pearson
    // factors sqrt'd separately, zero-variance CASE mirrored
    "q_ts_acf" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM d GROUP BY 1),
        |grid AS (SELECT event_type, d0 + i AS day
        |  FROM rng, unnest(generate_series(0, d1 - d0)) AS t(i)),
        |f AS (SELECT g.event_type, g.day, COALESCE(d.n, 0) AS x
        |  FROM grid g LEFT JOIN d ON d.event_type = g.event_type
        |    AND d.day = g.day),
        |p AS (SELECT a.event_type, l.lag, a.x AS x, b.x AS y
        |  FROM f a CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) l
        |  JOIN f b ON b.event_type = a.event_type
        |    AND b.day = a.day + l.lag),
        |m AS (SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sx2,
        |    CAST(sum(y * y) AS BIGINT) AS sy2
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        |  CASE WHEN n_pairs*sx2 - sx*sx = 0 OR n_pairs*sy2 - sy*sy = 0
        |    THEN 0.0
        |    ELSE round(CAST(n_pairs*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(n_pairs*sx2 - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs*sy2 - sy*sy AS DOUBLE))), 4) + 0.0
        |  END AS acf
        |FROM m""".stripMargin,

    // the N-scaled integer CUSUM: no fractional mean, argmax by
    // (|cusum| desc, day) — identical tie-break both engines
    "q_ts_cusum" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM d GROUP BY 1),
        |grid AS (SELECT event_type, d0 + i AS day
        |  FROM rng, unnest(generate_series(0, d1 - d0)) AS t(i)),
        |f AS (SELECT g.event_type, g.day, COALESCE(d.n, 0) AS x
        |  FROM grid g LEFT JOIN d ON d.event_type = g.event_type
        |    AND d.day = g.day),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(x) AS BIGINT) AS tot FROM f GROUP BY 1),
        |c AS (SELECT f.event_type, f.day, st.nd,
        |    CAST(sum(st.nd * f.x - st.tot) OVER (PARTITION BY f.event_type
        |      ORDER BY f.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cusum
        |  FROM f JOIN st ON f.event_type = st.event_type),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day) AS rn FROM c)
        |SELECT event_type, day AS cp_day, cusum, nd AS n_days
        |FROM r WHERE rn = 1""".stripMargin,

    // per-term micro-quantized nᵢ·ln(nᵢ) (exact Long sum), one final
    // float chain mirrored token for token
    "q_user_entropy" ->
      """WITH t AS (SELECT user_id, event_type, count(*) AS ni
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT user_id, CAST(sum(ni) AS BIGINT) AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CAST(floor(CAST(ni AS DOUBLE) * ln(CAST(ni AS DOUBLE))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS q
        |  FROM t GROUP BY 1)
        |SELECT user_id, n_events, n_types,
        |  round(ln(CAST(n_events AS DOUBLE)) - CAST(q AS DOUBLE) / 1000000.0
        |    / CAST(n_events AS DOUBLE), 4) + 0.0 AS entropy
        |FROM q""".stripMargin,

    "q_ts_dow_seasonality" ->
      """WITH d AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, dow, n,
        |  (7 * n * 1000000) // n_total AS idx_ppm
        |FROM d JOIN t ON d.event_type = t.event_type""".stripMargin,

    "q_sec_spike" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, n,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail7
        |  FROM d)
        |SELECT event_type, day, n, trail7,
        |  (7 * n * 1000000) // trail7 AS spike_ppm
        |FROM w WHERE trail7 IS NOT NULL AND trail7 > 0""".stripMargin,

    // streamed novelty emissions == the batch first-day census
    "q_t27_streaming_first_seen" ->
      """WITH pd AS (SELECT user_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events GROUP BY 1, 2, 3),
        |fs AS (SELECT min(day) AS day
        |  FROM pd GROUP BY user_id, event_type)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_new_pairs
        |FROM fs GROUP BY 1""".stripMargin,

    "q_sec_first_seen" ->
      """WITH pd AS (SELECT user_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day, count(*) AS n_ev
        |  FROM events GROUP BY 1, 2, 3),
        |fs AS (SELECT min(day) AS day
        |  FROM pd GROUP BY user_id, event_type),
        |nw AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new_pairs
        |  FROM fs GROUP BY 1),
        |act AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active_pairs,
        |    CAST(sum(n_ev) AS BIGINT) AS n_events
        |  FROM pd GROUP BY 1)
        |SELECT act.day, n_active_pairs, n_events,
        |  COALESCE(n_new_pairs, 0) AS n_new_pairs
        |FROM act LEFT JOIN nw ON act.day = nw.day""".stripMargin,

    "q_sec_beaconing" -> sqlBeaconing,

    // the streamed accumulator must equal the batch window scan exactly
    "q_t26_streaming_beacon" -> sqlBeaconing,

    "q_t23_streaming_upsert" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents, event_id FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, ts_us AS last_ts_us, event_type AS last_type,
        |  cents AS last_cents
        |FROM r WHERE rn = 1""".stripMargin,

    // full-vocabulary replay — equality with the candidate-recount form
    // is the MG-superset theorem the Spark side's scaladoc states
    "q_t22_streaming_trending_heavy" ->
      """WITH p AS (SELECT event_type || '#' ||
        |    CAST(TRY_CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)\s*[,}]', 1)
        |      AS BIGINT) // 10 AS VARCHAR) AS topic,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT topic, day, count(*) AS n FROM p
        |      WHERE topic IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT max(day) AS maxd FROM c),
        |w AS (SELECT topic,
        |    CAST(n AS HUGEINT)
        |      * (CAST(1 AS BIGINT) << (30 - CAST(maxd - day AS INTEGER))) AS w
        |  FROM c, m WHERE maxd - day <= 30),
        |sc AS (SELECT topic, sum(w) AS score_u FROM w GROUP BY 1),
        |tot AS (SELECT sum(w) AS mass_u FROM w)
        |SELECT topic, CAST(score_u AS BIGINT) AS score_u,
        |  round(CAST(score_u AS DOUBLE) / 1073741824.0, 6) AS score
        |FROM sc, tot WHERE score_u * 49 > mass_u""".stripMargin,

    "q_hll_intersection" -> {
      import graft.functions.Hll
      def est(src: String) =
        Hll.sqlEstimate(s"(${Hll.M} - (SELECT count(*) FROM $src))",
          s"((SELECT CAST(sum(${Hll.sqlRegisterTerm("rho")}) AS BIGINT) FROM $src)" +
            s" + (${Hll.M} - (SELECT count(*) FROM $src)) * ${Hll.Pow52})")
      s"""WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS dus FROM orders),
         |ds AS (SELECT min(dus) AS mind, max(dus) AS maxd FROM o),
         |tagged AS (SELECT o_custkey,
         |    CASE WHEN dus < mind + (maxd - mind) // 4 THEN 'a' ELSE 'b' END AS side
         |  FROM o, ds
         |  WHERE dus < mind + (maxd - mind) // 4
         |     OR dus >= mind + 3 * ((maxd - mind) // 4)),
         |h AS (SELECT side,
         |    ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),1,15))::BIGINT AS h
         |  FROM tagged),
         |regs AS (SELECT side, ${Hll.sqlRegIdx("h")} AS reg_idx,
         |    CAST(max(${Hll.sqlRho("h")}) AS INT) AS rho
         |  FROM h GROUP BY 1, 2),
         |ra AS (SELECT reg_idx, rho FROM regs WHERE side = 'a'),
         |rb AS (SELECT reg_idx, rho FROM regs WHERE side = 'b'),
         |ru AS (SELECT reg_idx, max(rho) AS rho FROM regs GROUP BY 1),
         |ex AS (SELECT
         |    count(DISTINCT CASE WHEN side = 'a' THEN o_custkey END) AS n_a,
         |    count(DISTINCT CASE WHEN side = 'b' THEN o_custkey END) AS n_b,
         |    count(DISTINCT o_custkey) AS n_union
         |  FROM tagged)
         |SELECT ${est("ra")} AS est_a, ${est("rb")} AS est_b,
         |  ${est("ru")} AS est_union,
         |  round(${est("ra")} + ${est("rb")} - ${est("ru")}, 2) AS est_intersection,
         |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(n_union AS BIGINT) AS n_union,
         |  CAST(n_a + n_b - n_union AS BIGINT) AS n_intersection
         |FROM ex""".stripMargin
    },

    "q_t21_streaming_leftjoin" ->
      """WITH p AS (SELECT user_id AS u, epoch_us(ts) AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |sg AS (SELECT user_id AS su, epoch_us(ts) AS sts FROM events
        |  WHERE event_type = 'signup'),
        |j AS (SELECT u, pts, sts FROM p LEFT JOIN sg
        |  ON u = su AND sts >= pts - 3600000000 AND sts <= pts)
        |SELECT u AS user_id, count(*) AS n_rows, count(sts) AS n_matched,
        |  CAST(sum(CASE WHEN sts IS NOT NULL THEN pts - sts ELSE 0 END)
        |    AS BIGINT) AS sum_gap_us
        |FROM j GROUP BY 1""".stripMargin,

    "q_rolling_wau_hll" -> sqlRollingWauHll,

    // the streamed registers must reproduce the batch registers exactly,
    // so the whole rolling-WAU readout shares the batch oracle
    "q_t20_streaming_wau" -> sqlRollingWauHll,

    "q_attribution_linear" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
        |  FROM events),
        |p AS (SELECT user_id, t AS tp, event_id AS pid FROM ev
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, t AS tv FROM ev WHERE event_type = 'view'),
        |touches AS (SELECT pid, tv FROM p JOIN v ON p.user_id = v.user_id
        |  WHERE tv < tp AND tv >= tp - 604800000000),
        |c AS (SELECT tv, 1000000 // (count(*) OVER (PARTITION BY pid)) AS credit_ppm
        |  FROM touches)
        |SELECT tv // 86400000000 AS day, count(*) AS n_touches,
        |  CAST(sum(credit_ppm) AS BIGINT) AS credit_u
        |FROM c GROUP BY 1""".stripMargin,

    "q_rfm_segmentation" -> {
      def bq(d: String, q: Int) =
        s"(SELECT bv FROM b WHERE d = '$d' AND q = $q)"
      def sc(c: String, d: String) =
        Seq(25, 50, 75).map(q =>
          s"CASE WHEN CAST($c AS DOUBLE) > ${bq(d, q)} THEN 1 ELSE 0 END")
          .mkString(" + ")
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t, value
         |  FROM events),
         |mx AS (SELECT max(t) AS mt FROM ev),
         |base AS (SELECT user_id,
         |    (mt - max(t)) // 86400000000 AS rec_days,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS freq,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS mon_cents
         |  FROM ev, mx GROUP BY user_id, mt),
         |dims AS (SELECT 'r' AS d, CAST(rec_days AS DOUBLE) AS v FROM base
         |  UNION ALL SELECT 'f', CAST(freq AS DOUBLE) FROM base
         |  UNION ALL SELECT 'm', CAST(mon_cents AS DOUBLE) FROM base),
         |rk AS (SELECT d, v, row_number() OVER (PARTITION BY d ORDER BY v) AS rn,
         |    count(*) OVER (PARTITION BY d) AS n FROM dims),
         |b AS (SELECT d, q, min(v) AS bv
         |  FROM rk, (VALUES (25), (50), (75)) qs(q)
         |  WHERE rn = CAST(floor(q / 100.0 * (n - 1)) AS BIGINT) + 1
         |  GROUP BY 1, 2)
         |SELECT user_id, rec_days, freq, mon_cents,
         |  CAST(4 - (${sc("rec_days", "r")}) AS BIGINT) AS r_score,
         |  CAST(1 + (${sc("freq", "f")}) AS BIGINT) AS f_score,
         |  CAST(1 + (${sc("mon_cents", "m")}) AS BIGINT) AS m_score
         |FROM base""".stripMargin
    },

    "q_ab_test" -> {
      val arm = graft.ops.Sampling.sqlHashBucket("user_id", 2, "ab")
      s"""WITH u AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' AND value > 150.0 THEN 1 ELSE 0 END) AS converted,
         |    $arm AS arm
         |  FROM events GROUP BY user_id),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
         |  FROM u)
         |SELECT n_a, c_a, n_b, c_b,
         |  (1000000 * c_a) // n_a AS cr_a_ppm,
         |  (1000000 * c_b) // n_b AS cr_b_ppm,
         |  round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
         |    / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
         |      * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
         |      * (1.0 / n_a + 1.0 / n_b)), 4) AS z
         |FROM a""".stripMargin
    },

    "q_agg_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n, row_number() OVER
        |    (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1""".stripMargin,

    "q_rolling_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |ex AS (SELECT DISTINCT user_id, day + i AS rday
        |  FROM ud, unnest(generate_series(0, 6)) t(i)),
        |wau AS (SELECT rday AS day, count(*) AS wau FROM ex GROUP BY 1)
        |SELECT dau.day, dau, wau
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,

    "q_sessionize_native" -> sqlSessionNative,

    // the streamed session_window must equal the batch form exactly —
    // same oracle (sentinel sessions are negative-keyed, filtered on read)
    "q_t24_streaming_session_native" -> sqlSessionNative,

    "q_funnel_timebound" -> sqlFunnel,

    // the streamed funnel's oracle IS the batch funnel: under ordered
    // delivery the stage machine must reproduce the batch census exactly
    "q_t18_streaming_funnel" -> sqlFunnel,

    "q_asof_tolerance" ->
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup'),
        |j AS (SELECT p.user_id, epoch_us(p.ts) - epoch_us(s.sts) AS gap_us,
        |    s.sts AS sts_asof
        |  FROM p ASOF LEFT JOIN s
        |    ON p.user_id = s.user_id AND p.ts >= s.sts)
        |SELECT user_id, count(*) AS n_purch, count(sts_asof) AS n_matched,
        |  CAST(sum(CASE WHEN gap_us <= 21600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_within_tol,
        |  CAST(sum(CASE WHEN gap_us <= 21600000000 THEN gap_us ELSE 0 END)
        |    AS BIGINT) AS sum_gap_us
        |FROM j GROUP BY 1""".stripMargin,

    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |supp AS (SELECT b, count(*) AS supp FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT ok) AS n FROM items),
        |pairs AS (SELECT a.b AS ante, c.b AS cons, count(*) AS supp_ab
        |  FROM items a JOIN items c ON a.ok = c.ok AND a.b < c.b
        |  GROUP BY 1, 2)
        |SELECT ante, cons, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
        |  (1000000 * supp_ab) // sa.supp AS conf_ppm,
        |  CAST(floor(1e6 * CAST(supp_ab AS DOUBLE) / sa.supp / sb.supp * n)
        |    AS BIGINT) AS lift_ppm
        |FROM pairs JOIN supp sa ON sa.b = ante
        |  JOIN supp sb ON sb.b = cons CROSS JOIN tot""".stripMargin)
}
