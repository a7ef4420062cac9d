package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.ops.{CacheRegistry, Dedup, IncrementalIndex, Packing, Sampling, Similarity, TextAnalysis => TA}
import graft.sources.Tables

/** Training-data pipeline operators, batch 2: PII scrubbing, repetition
  * quality signals, rule-cascade curation, deterministic splits/sampling,
  * sequence packing, benchmark-contamination detection, int8 embedding
  * quantization, and k-means (Lloyd) centroid training.
  *
  * Every query is oracle-checked. Numeric outputs are integers (counts,
  * exact integer distances, floor divisions) or md5 fingerprints, so the
  * DuckDB comparison is bit-exact; the few fractional rules are stated in
  * cross-multiplied integer form (`2*(n5-d5) > n5` instead of
  * `dup_frac > 0.5`) for the same reason.
  */
object PipelineQueries {

  /** Deterministic synthetic PII appended to each document (the corpus
    * itself is clean word-salad): one email, one phone, one IPv4 per doc,
    * plus a second email on every third doc so the counts are not
    * constant. Mirrored exactly by [[sqlWithPii]].
    */
  private def withPii(text: org.apache.spark.sql.Column,
                      docId: org.apache.spark.sql.Column) =
    concat(
      text,
      lit(" contact user"), docId.cast("string"), lit("@example.com via +1-555-"),
      lpad((docId % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((docId % 10000).cast("string"), 4, "0"), lit(" from 10."),
      (docId % 256).cast("string"), lit(".0."), ((docId * 7) % 256).cast("string"),
      when(docId % 3 === 0, lit(" cc admin@test.org")).otherwise(lit("")))

  private val sqlWithPii =
    """(text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via +1-555-' ||
      | lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      | lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
      | CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
      | CASE WHEN doc_id % 3 = 0 THEN ' cc admin@test.org' ELSE '' END)"""
      .stripMargin.replace("\n", "")

  /** 2-gram / 5-gram repetition-signal CTEs over `documents`, ending in
    * per-doc integer columns (n2, top2, n5, d5) — mirrors
    * [[TA.wordNgrams]] + [[TA.maxRepeatCount]].
    */
  private val sqlRepCtes =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
      |       FROM toks, unnest(generate_series(1, len(toks)-1)) AS t(i)),
      |c2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, max(c) AS top2
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
      |g5 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
      |       FROM toks, unnest(generate_series(1, len(toks)-4)) AS t(i)),
      |c5 AS (SELECT doc_id, count(*) AS n5, count(DISTINCT g) AS d5 FROM g5 GROUP BY 1),
      |rep AS (SELECT d.doc_id, COALESCE(c2.n2, 0) AS n2, COALESCE(c2.top2, 0) AS top2,
      |               COALESCE(c5.n5, 0) AS n5, COALESCE(c5.d5, 0) AS d5
      |        FROM documents d LEFT JOIN c2 ON d.doc_id = c2.doc_id
      |                         LEFT JOIN c5 ON d.doc_id = c5.doc_id)""".stripMargin

  /** Per-doc repetition signal columns (Spark side of [[sqlRepCtes]]):
    * one typed pass, NOT the Column HOF form — CollapseProject would
    * inline the tokenization into every lambda element (measured
    * O(tokens^2)/doc, see TextAnalysis.maxRepeatCount scaladoc).
    */
  private def repCols(df: DataFrame): DataFrame = TA.repetitionStats(df, "text")

  /** Run two independent driver-coordinated phases concurrently (guide
    * §2.6 "overlap independent jobs"): each side is its own chain of tiny
    * Spark jobs (Lloyd rounds, config-scale collects) whose per-job fixed
    * latency otherwise serializes. Results are bit-identical to running
    * the sides in order — they share nothing but the scheduler. */
  private def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fra = pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = fa
      })
      val frb = pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = fb
      })
      (fra.get(), frb.get())
    } finally pool.shutdown()
  }

  private val StratRates = Map("en" -> 250, "es" -> 500)

  /** Target domain mix for q_mix_reweight (permille per derived group). */
  private val MixTargets = Map(0L -> 500L, 1L -> 250L, 2L -> 150L, 3L -> 100L)

  /** Per-domain token budgets for q_mix_token_budget: group 0 is
    * deliberately uncapped (exercises the no-boundary path), the rest cap
    * progressively harder at every fixture scale.
    */
  private val TokenBudgets = Map(0L -> 1000000000L, 1L -> 5000L, 2L -> 2500L, 3L -> 1500L)

  /** Fractional epoch factors (permille) for q_mix_epochs: a >2-epoch
    * repeat, an identity group, a half-epoch downsample, and 1.5 epochs.
    */
  private val EpochTargets = Map(0L -> 2300L, 1L -> 1000L, 2L -> 500L, 3L -> 1500L)

  /** Cosine threshold for q_dedup_semantic — same dial as the blocked
    * all-pairs kernel (DocQueries.CosineTau) so the two operators'
    * outputs are comparable.
    */
  private val SemanticTau = 0.44

  /** Per-group row counts for q_sample_fixed_n: one group asks for more
    * rows than it has at small fixtures (kept whole — the budget is an
    * upper bound), the rest cut exactly.
    */
  private val FixedNTargets = Map(0L -> 1000000L, 1L -> 40L, 2L -> 25L, 3L -> 10L)

  /** Shared kernel of q_dedup_semantic / q_dedup_semantic_probe2: Lloyd
    * cells (k auto-derived from the corpus count — `Similarity.deriveK`,
    * = 8 at the 500-vector fixtures the oracles pin; 2 iters,
    * deterministic), each vector indexed into its `probes` nearest cells,
    * cosine pairs computed ONLY where probe sets intersect, hot cells
    * chain-capped (`Similarity.cellPairsCapped`) so one dominant cluster
    * contributes O(size) candidates, never O(size²). Cosine is
    * exact-integer dots under an identically-shaped float expression on
    * both engines, so the tau compare and the multi-probe distinct are
    * bit-stable.
    */
  private def semanticPairs(s: SparkSession, dir: String, probes: Int): DataFrame = {
    val em = Tables.embeddings(s, dir)
    // column-pruned count (reads parquet row counts, no data pages) —
    // the same config-scale stats read cosinePairsBlocked's auto-derive
    // does; k then scales with the corpus instead of pinning the fixture
    val k = Similarity.deriveK(em.count())
    val cents = Similarity.kmeansTrain(em, "vec_id", "embedding", k = k, iters = 2)
    val m = Similarity.assignWithCentroidsTopP(em, "vec_id", "embedding",
      cents.toSeq, probes)
    // Per-VECTOR norm once, before the pair join (N×probes rows) — inside
    // the pair kernel it would be recomputed per candidate. Zero-norm
    // vectors can never clear τ (cosine undefined) and are dropped BEFORE
    // pairing, which both prunes them from chain membership and keeps the
    // all-pairs path identical to the post-join na/nb>0 filter it had.
    // The pair dot product itself is ONE Row-typed mapPartitions pass:
    // the Column-HOF form (aggregate over zip_with) evaluates interpreted
    // and every reference re-evaluates it (the round-4
    // Generate/CollapseProject lesson — measured 15 s/51 s at sf0.1 for
    // probe 1/2; typed kernel ~20× less). Float shape (cast, sqrt,
    // multiply, divide — each correctly rounded) matches the oracle
    // expression exactly.
    val withNorm = m.withColumn("nrm",
        aggregate(transform(col("q"), x => x * x), lit(0L), (acc, x) => acc + x))
      .filter(col("nrm") > 0L)
    // LOCAL pair kernel (Similarity.cellPairsLocalScored): one shuffle of
    // the N×probes assignment rows, pairs scored in-task — the earlier
    // join form materialized every candidate pair carrying both 64-long
    // vectors through the shuffle (~1 KiB × Σ|cell|², the dominant cost
    // once deriveK went linear). Same pair set, same float shape, same
    // τ-compare — SemanticDedupSpec pins local == join+kernel.
    val pairs = Similarity
      .cellPairsLocalScored(withNorm.select("cell", "id", "q", "nrm"), SemanticTau)
      .select(col("i"), col("j"), round(col("c"), 4).as("cos"))
    // p=1: a pair can share at most one cell — no dedup pass needed
    if (probes == 1) pairs else pairs.distinct()
  }

  /** Gopher gate features + flag expressions, shared VERBATIM by the
    * per-source gate accounting (q_curation_gopher) and the ordered
    * retention funnel (q_curation_funnel) — divergent copies would let
    * the two reports silently disagree on what a gate means.
    */
  private def gopherFeatures(s: SparkSession, dir: String): DataFrame = {
    val toks = TA.tokens(col("text"))
    repCols(Tables.documents(s, dir))
      .withColumn("n", size(toks).cast("long"))
      .withColumn("sumlen",
        aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, x) => a + x))
      .withColumn("nstop", TA.nStopwords(toks).cast("long"))
  }
  private def failLen = !(col("n") >= 20 && col("n") <= 1000)
  private def failWordlen = !(col("sumlen") >= col("n") * 2 && col("sumlen") <= col("n") * 10)
  private def failStop = col("nstop") === 0
  private def failRep = (col("n5") - col("d5")) * 2 > col("n5")
  private def failTop = col("top2") * 10 > col("n2") * 3
  private def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- PII scrubbing ----

    // Redaction counts + an md5 fingerprint of the scrubbed text: the
    // fingerprint pins the exact replacement spans, not just the counts.
    "q_txt_pii_scrub" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("t2", withPii(col("text"), col("doc_id")))
        .select(col("doc_id"),
          TA.countEmails(col("t2")).cast("long").as("n_emails"),
          TA.countIpv4s(col("t2")).cast("long").as("n_ips"),
          TA.countPhones(col("t2")).cast("long").as("n_phones"),
          md5(TA.scrubPii(col("t2"))).as("scrub_fp"))
    }),

    // ---- repetition signals ----

    // Gopher/RefinedWeb-style repetition statistics per document, in exact
    // integer form: total/top 2-gram counts and total/distinct 5-gram
    // counts. All computed inside one codegen'd projection (sorted-run
    // fold for the mode) — no shuffle for a per-row statistic.
    "q_txt_repetition" -> ((s, dir) => {
      repCols(Tables.documents(s, dir))
        .select("doc_id", "n2", "top2", "n5", "d5")
    }),

    // ---- rule-cascade curation ----

    // Quality-rule cascade (length, mean word length, stopword presence,
    // duplicate-5-gram fraction, top-2-gram fraction) with per-source
    // pass/fail accounting. Fractional thresholds are cross-multiplied to
    // integers so pass/fail is exact on both engines.
    "q_curation_gopher" -> ((s, dir) => {
      val d = gopherFeatures(s, dir)
      val pass = !failLen && !failWordlen && !failStop && !failRep && !failTop
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        cnt(pass).as("n_pass"),
        cnt(failLen).as("n_fail_len"),
        cnt(failWordlen).as("n_fail_wordlen"),
        cnt(failStop).as("n_fail_stop"),
        cnt(failRep).as("n_fail_rep"),
        cnt(failTop).as("n_fail_top"))
    }),

    // Retention FUNNEL through the same gate cascade, in gate ORDER: per
    // stage, how many docs entered, survived, and were rejected BY THAT
    // GATE (attrition attribution — the gopher query counts each gate's
    // failures independently; the funnel counts them cumulatively, which
    // is what a pipeline report shows). One pass: all five cumulative
    // survivor counts are conditional sums inside a single aggregate —
    // the per-stage rows are unstacked from the one-row result, so the
    // corpus is scanned once and nothing but six counters moves.
    "q_curation_funnel" -> ((s, dir) => {
      val d = gopherFeatures(s, dir)
      val p1 = !failLen
      val p2 = p1 && !failWordlen
      val p3 = p2 && !failStop
      val p4 = p3 && !failRep
      val p5 = p4 && !failTop
      d.agg(count(lit(1)).as("n0"), cnt(p1).as("s1"), cnt(p2).as("s2"),
          cnt(p3).as("s3"), cnt(p4).as("s4"), cnt(p5).as("s5"))
        .selectExpr(
          """stack(5,
            |  CAST(1 AS BIGINT), 'len',     n0, s1,
            |  CAST(2 AS BIGINT), 'wordlen', s1, s2,
            |  CAST(3 AS BIGINT), 'stop',    s2, s3,
            |  CAST(4 AS BIGINT), 'rep',     s3, s4,
            |  CAST(5 AS BIGINT), 'top',     s4, s5
            |) AS (stage, gate, entered, survived)""".stripMargin)
        .withColumn("rejected", col("entered") - col("survived"))
    }),

    // ---- deterministic splits / sampling ----

    // Train/val/test assignment + an independent 50% subsample, both pure
    // per-row md5 expressions (stable under corpus growth, no RNG/state).
    "q_sample_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("split", Sampling.split(col("doc_id")))
        .withColumn("sampled", Sampling.samplePermille(col("doc_id"), 500))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Per-language down-sampling to target permille rates (en -> 25%,
    // es -> 50%, others kept whole) — the language-rebalance step of a
    // corpus mix, as one compiled when-chain inside the scan.
    "q_sample_stratified" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("keep",
          Sampling.stratifiedKeep(col("doc_id"), col("lang"), StratRates))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
    }),

    // Domain-mix reweighting: 4 derived domain groups rebalanced to a
    // 500/250/150/100 permille target at maximum volume. Rates come from
    // pure integer floor division over the per-group counts (one
    // config-scale metadata aggregate), the apply pass is a hash-threshold
    // predicate riding the scan — the "30% web / 25% code" mixing step.
    // Temperature-flattened language rebalancing (α = 1/2): rates derive
    // from corpus stats (∝ √n_g), no hand-written target mix — the
    // multilingual complement of q_mix_reweight's explicit targets. √ is
    // IEEE-exact on both engines, so DuckDB re-derives every ppm rate bit
    // for bit; apply is the usual hash-threshold scan predicate.
    "q_mix_temperature" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val rates = Sampling.temperatureRates(docs, col("lang"))
      val rateCol = rates.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
        case (els, (g, r)) => when(col("lang") === lit(g), lit(r)).otherwise(els)
      }
      docs.withColumn("__rate", rateCol)
        .filter(Sampling.hashBucket(col("doc_id"), 1000000, "temp") < col("__rate"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"), max(col("__rate")).as("rate_ppm"))
    }),

    "q_mix_reweight" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("grp", expr("CAST(substring(source, 4) AS BIGINT) % 4"))
      Sampling.mixReweight(docs, col("grp"), col("doc_id"), MixTargets, salt = "mix")
        .groupBy("grp")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
    }),

    // Token-BUDGET capping per domain — "keep 5000 tokens of group 1":
    // where q_mix_reweight rebalances RATES, this cuts each group to an
    // absolute token budget, exactly, in a deterministic hash-priority
    // order. Scale shape (Sampling.tokenBudgetKeep): one config-scale
    // (group × bucket) metadata aggregate to the driver, a pure scan
    // predicate for wholly-kept buckets, and an intra-bucket window over
    // ONLY the boundary bucket (≈1/buckets of one group) — never a
    // corpus-wide single-task cumsum. The oracle replays the equivalent
    // global-window definition.
    "q_mix_token_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("grp", expr("CAST(substring(source, 4) AS BIGINT) % 4"))
        .withColumn("n_tokens", size(TA.tokens(col("text"))).cast("long"))
      Sampling.tokenBudgetKeep(docs, col("grp"), col("doc_id"), col("n_tokens"),
          TokenBudgets, buckets = 16, salt = "tb")
        .groupBy("grp")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // Fractional-epoch upsampling — the other half of data mixing: where
    // q_mix_reweight DOWN-samples to a rate, this REPEATS under-
    // represented domains by a fractional epoch factor (2.3 epochs of
    // group 0, half an epoch of group 2). Deterministic: whole copies are
    // plan-time constants per group, the fractional copy is the usual
    // hash-permille predicate, and the exploded `epoch` index lets
    // downstream packing spread copies. The per-group summary pins both
    // the distinct-doc and the replicated row volumes.
    "q_mix_epochs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("grp", expr("CAST(substring(source, 4) AS BIGINT) % 4"))
      Sampling.epochReplicate(docs, col("grp"), col("doc_id"),
          EpochTargets, salt = "ep")
        .groupBy("grp")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Hashing-trick featurization (the Weinberger et al. feature-hashing
    // shape): tokens hash into a fixed 64-bucket signed feature vector —
    // the dimensionality is config, not vocabulary, so the feature space
    // never grows with the corpus and no vocabulary dictionary is
    // built/broadcast at all. One explode + one partial+final aggregate
    // on (doc, bucket); signs cancel collisions in expectation. Sparse
    // output (zero buckets dropped).
    "q_feat_hashing" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
      toks.select(col("doc_id"),
          pmod(Hashing.md5LongSeeded(col("token"), 101), lit(64L)).as("bucket"),
          when(pmod(Hashing.md5LongSeeded(col("token"), 202), lit(2L)) === 0L,
            1L).otherwise(-1L).as("sign"))
        .groupBy("doc_id", "bucket").agg(sum(col("sign")).as("v"))
        .filter(col("v") =!= 0L)
    }),

    // Sparse linear classifier APPLY — the quality-classifier gate shape
    // (DCLM/FineWeb-style: a model trained offline scores every doc
    // before tokens are spent): hashed features ⊙ a weight vector whose
    // 64 entries are pure expressions of the bucket id (a deployed model
    // would broadcast its trained weights; the derivation here stands in
    // so the oracle can re-derive them bit for bit). The logit is an
    // exact integer dot product — no sigmoid needed for a threshold
    // gate, and no libm call touches the hash. One aggregate over the
    // feat-hashing output; the corpus is scored in a single scan+shuffle.
    "q_curation_classifier" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
      val feats = toks.select(col("doc_id"),
          pmod(Hashing.md5LongSeeded(col("token"), 101), lit(64L)).as("bucket"),
          when(pmod(Hashing.md5LongSeeded(col("token"), 202), lit(2L)) === 0L,
            1L).otherwise(-1L).as("sign"))
        .groupBy("doc_id", "bucket").agg(sum(col("sign")).as("v"))
      val wCol = pmod(Hashing.md5Long(
        concat(lit("w#"), col("bucket").cast("string"))), lit(2001L)) - lit(1000L)
      feats.withColumn("w", wCol)
        .groupBy("doc_id").agg(sum(col("v") * col("w")).as("logit_u"))
        .withColumn("kept", col("logit_u") > 0L)
    }),

    // Exact fixed-N-per-group sampling — "exactly 40 eval docs per
    // domain, deterministically": tokenBudgetKeep with UNIT weights, so
    // the budget IS the row count. Same scale shape (metadata aggregate +
    // boundary-bucket window, no per-group single-task rank); the output
    // pins both the exact count and the md5 fingerprint of the chosen id
    // set, so the oracle verifies WHICH docs were picked, not just how
    // many.
    "q_sample_fixed_n" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("grp", expr("CAST(substring(source, 4) AS BIGINT) % 4"))
      Sampling.tokenBudgetKeep(docs, col("grp"), col("doc_id"), lit(1L),
          FixedNTargets, buckets = 16, salt = "fn")
        .groupBy("grp")
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws(",", sort_array(collect_list(col("doc_id"))))).as("ids_fp"))
    }),

    // WEIGHTED sampling without replacement (priority sampling): per
    // source, the 20 docs with the smallest hash-div-weight priorities —
    // inclusion probability ~proportional to n_chars, fully
    // deterministic, and the priority is a pure per-row expression (no
    // RNG, no state), so at 100 TB selection rides the scan plus one
    // per-group top-n. Integral `div` keeps the ~2^60/w quotient exact
    // where a Double quotient would tie-break on rounding noise.
    "q_sample_weighted" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("priority"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"),
          Sampling.priority(col("doc_id"), col("n_chars")).as("priority"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20).drop("rn")
    }),

    // ---- sequence packing ----

    // Concat-and-chunk packing into 512-token context windows, per source
    // shard: each doc gets its (bin, offset) position from a per-shard
    // prefix sum.
    "q_pack_sequences" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("n_tokens", size(TA.tokens(col("text"))).cast("long"))
      Packing.packConcat(d, "source", "doc_id", "n_tokens", ctxTokens = 512)
        .select("doc_id", "source", "n_tokens", "bin", "offset")
    }),

    // ---- benchmark contamination ----

    // Corpus documents sharing >= 3 distinct 5-gram shingles with the
    // benchmark set (source = 'src0' stands in for an eval suite). The
    // benchmark shingle set is broadcast — eval suites are small by
    // construction — so the corpus-side scan never shuffles; overlap
    // counting is a map-side-combined count per doc.
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // shingle keys are 64-bit-hashed before the broadcast/probe (the
      // pair-family posture, r16): the join never reads shingle TEXT, so
      // the benchmark set broadcasts as 8-byte keys and the probe-side
      // exchange narrows 3-5x; same collision trade as pairIntersections
      val bench = Dedup.shingles(docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5)
        .select(xxhash64(col("shingle")).as("shingle")).distinct()
      Dedup.shingles(docs.filter(col("source") =!= "src0"), "doc_id", "text", n = 5)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        .join(broadcast(bench), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 3)
    }),

    // The APPLY step: drop the contaminated docs from the training corpus
    // (broadcast anti-join on the flagged id set — flagged sets are tiny
    // relative to the corpus, so the corpus side never shuffles) and
    // account for what survived per source. Completes the contamination
    // loop the way q_dedup_apply completes dedup: detection is useless
    // until the pipeline actually removes what it found.
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // hashed shingle keys — see q_contamination (r16)
      val bench = Dedup.shingles(docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5)
        .select(xxhash64(col("shingle")).as("shingle")).distinct()
      val flagged = Dedup.shingles(docs.filter(col("source") =!= "src0"),
          "doc_id", "text", n = 5)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        .join(broadcast(bench), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 3)
        .select("doc_id")
      decontaminateApply(s, dir, flagged)
    }),

    // Contamination flagged ON INGEST: the same flags computed by the
    // STREAMING path (topic -> typed shingling -> broadcast benchmark join
    // -> Update-mode per-doc counts), then the identical apply step. The
    // oracle is q_decontaminate's SQL verbatim — streaming curation ==
    // batch curation.
    "q_t11_streaming_decon" -> ((s, dir) => {
      val flagged = streamedContaminationFlags(s, dir)
        .filter(col("n_overlap") >= 3).select("doc_id")
      decontaminateApply(s, dir, flagged)
    }),

    // CMS registers computed BY THE STREAMING PATH (see
    // [[streamedCountMinRegs]]): documents as a JSON topic, Update-mode
    // per-(seed, bucket) counts, max-compacted landing == batch sketch.
    "q_t14_streaming_countmin" -> ((s, dir) => streamedCountMinRegs(s, dir)),

    // ---- embedding compression / centroid training ----

    // Symmetric per-vector int8 quantization; min/max/sum/norm of the
    // quantized vector pin every quantized value.
    "q_emb_quantize_int8" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("q8"))
        .select(col("vec_id"),
          array_min(col("q8")).as("qmin"),
          array_max(col("q8")).as("qmax"),
          aggregate(col("q8"), lit(0L), (a, x) => a + x).as("qsum"),
          aggregate(transform(col("q8"), x => x * x), lit(0L), (a, x) => a + x).as("qnorm"))
    }),

    // Two Lloyd rounds from the deterministic seed (k lowest-id vectors):
    // per-cell membership, id checksum, and exact integer inertia.
    "q_emb_kmeans" -> ((s, dir) => {
      Similarity.kmeansLloyd(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 2)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          sum(col("id")).as("id_checksum"),
          sum(col("dist")).as("inertia"))
    }),

    // SemDeDup-style SEMANTIC dedup: cluster the embedding space (2 Lloyd
    // rounds, deterministic, k auto-derived from the corpus count), then
    // search for near-duplicate pairs ONLY WITHIN each cell — the scale
    // path for embedding dedup. The blocked all-pairs kernel
    // (q_dedup_embed_cosine) touches every pair; here candidate volume is
    // sum over cells of |cell|^2 with k growing with the corpus AND any
    // hot cell chain-capped at Similarity.DefaultMaxCell — the same
    // bucketed-pair posture and worst-case bound as LSH bands. Cosine is
    // computed from exact milli-quantized integer dot products with an
    // identically-shaped float expression on both engines (cast, sqrt,
    // multiply, divide — each correctly rounded, so the tau compare is
    // bit-identical).
    "q_dedup_semantic" -> ((s, dir) => semanticPairs(s, dir, probes = 1)),

    // MULTI-PROBE semantic dedup: each vector indexes into its TWO
    // nearest cells (the IVF-nprobe idea applied to the indexing side) —
    // a pair is a candidate if the probe sets intersect. ~2× candidate
    // volume buys back a large slice of the pair recall the cell
    // bucketing gives up (measured in RECALL.md); pairs matched in both
    // shared cells are collapsed by a distinct over the (exact, so
    // bit-stable) output row.
    //
    // ROLE DECISION (r15 verdict #6): probe2 is the FLAT pair family's
    // sf-scale oracle-replay and recall-measurement variant — the same
    // posture as flat q_sim_knn_graph beside knnGraphHier. At 2M vectors
    // flat probe2 read 124.8× for 1000× rows while the hier index found
    // 46% MORE true pairs at comparable per-pair cost (SCALE.md /
    // RECALL.md r15), so no production path routes candidacy through
    // flat probe2 past the deriveK cap: the scale path is the hier fine
    // cells — q_dedup_semantic_hier for scored pairs,
    // q_dedup_semantic_clusters for the fused labels. probe2 stays
    // because it is the two-dial recall ladder the RECALL.md
    // measurements (and their DuckDB replays) are pinned against.
    "q_dedup_semantic_probe2" -> ((s, dir) => semanticPairs(s, dir, probes = 2)),

    // TWO-LEVEL semantic dedup — the pair family's scale path past flat
    // deriveK's 1024-cell cap: at 2M vectors flat cells grow to ~3.9k
    // rows and Σ|cell|² reads 124.8× for 1000× data (SCALE.md r15); the
    // hierarchical index keeps fine cells at the 64-vector target, so
    // candidate volume stays corpus-linear at any N. A pair is a
    // candidate when two vectors share ≥1 probed FINE cell (each vector
    // probes ≤ nprobe1×nprobe2 = 4 — recall measured vs flat probe2 in
    // RECALL.md); scoring is the same τ-cut local pair kernel, the
    // oracle replays the full two-level derivation + all-pairs final.
    "q_dedup_semantic_hier" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val nEm = em.count()
      val k1 = Similarity.deriveK2(nEm)
      val cents = Similarity.kmeansTrainSpread(em, "vec_id", "embedding",
        k = k1, iters = 2, nKnown = nEm)
      val tagged = Similarity.hierTagged(em, "vec_id", "embedding",
        cents.toSeq, nprobe1 = 2, k2 = k1, iters2 = 2, nprobe2 = 2)
      val m = tagged.select(col("cell"), col("id"), col("q"))
        .withColumn("nrm", aggregate(transform(col("q"), x => x * x),
          lit(0L), (acc, x) => acc + x))
        .filter(col("nrm") > 0L)
      Similarity.cellPairsLocalScored(
          m.select("cell", "id", "q", "nrm"), SemanticTau)
        .select(col("i"), col("j"), round(col("c"), 4).as("cos"))
        .distinct()
    }),

    // FUSED semantic dedup — pairs → clusters WITHOUT a τ-pair table
    // (SCALE.md r15: at 2M vectors the pair family is OUTPUT-bound,
    // 1.1–1.7G true pairs materialized only to be consumed by connected
    // components). Candidacy is q_dedup_semantic_hier's fine cells; each
    // fine-cell group emits a local-union-find SPANNING FOREST of its
    // τ-graph (≤ |group|−1 edges, dots skipped for already-connected
    // pairs — Similarity.cellPairsLocalSpanning) and LSSS closes the
    // union transitively. Same components as clustering the full pair
    // set (DedupSpec pins it differentially); edge volume O(corpus),
    // time ∝ clusters, never ∝ pairs. Output = the cluster census
    // (the q_graph_cc shape: cluster id IS the survivor id).
    "q_dedup_semantic_clusters" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val nEm = em.count()
      val k1 = Similarity.deriveK2(nEm)
      val cents = Similarity.kmeansTrainSpread(em, "vec_id", "embedding",
        k = k1, iters = 2, nKnown = nEm)
      val tagged = Similarity.hierTagged(em, "vec_id", "embedding",
        cents.toSeq, nprobe1 = 2, k2 = k1, iters2 = 2, nprobe2 = 2)
      val m = tagged.select(col("cell"), col("id"), col("q"))
        .withColumn("nrm", aggregate(transform(col("q"), x => x * x),
          lit(0L), (acc, x) => acc + x))
        .filter(col("nrm") > 0L)
      val spanning = Similarity.cellPairsLocalSpanning(
        m.select("cell", "id", "q", "nrm"), SemanticTau)
      Dedup.dedupClusters(spanning, maxRounds = 30)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
    }),

    // The production IVF build: TRAIN centroids (2 Lloyd rounds), then
    // index + probe with them — k-means feeding ivfTopK end-to-end.
    "q_sim_ivf_trained" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val cents = Similarity.kmeansTrain(em, "vec_id", "embedding", k = 8, iters = 2)
      Similarity.ivfTopK(em, em.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nCentroids = 8, nprobe = 2,
        trainedCentroids = Some(cents.toSeq))
    }),

    // PQ-coded ANN (the compression half of IVF-PQ): 4 subspaces × 16
    // codewords each, trained by the same exact-integer Lloyd loop; the
    // corpus is stored as 4 codes/vector (2 bytes vs 256 of float32) and
    // ADC top-5 for the first 20 vectors is scored from per-query lookup
    // tables. The oracle rebuilds all four codebooks, the coded corpus,
    // and every integer ADC sum relationally — bit-exact.
    "q_sim_pq" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      // codebook training and the query collect are independent driver
      // phases — overlap them (r16; results bit-identical, see inParallel)
      val (books, queries) = inParallel(
        Similarity.pqTrain(em, "vec_id", "embedding", m = 4, k = 16, iters = 2),
        em.filter(col("vec_id") < 20)
          .select(col("vec_id").cast("long"), Similarity.quantize(col("embedding")))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)))
      val coded = Similarity.pqCode(em, "vec_id", "embedding", books)
      Similarity.pqSearchTopK(coded, queries, books, k = 5)
    }),

    // kNN GRAPH construction: EVERY vector is a query — each gets its
    // top-3 cosine neighbors among the candidates its 2 probed cells
    // hold. The self-join shape behind graph-based clustering, kNN-graph
    // dedup, and diffusion labeling. Cell count comes from deriveK
    // (k = N/64 linear — =8 on the verify fixtures, so the oracle's
    // pinned 8 is the derived value, not a second contract): with every
    // vector querying, candidate volume is corpus × nprobe·cellSize, and
    // a FIXED k would make that corpus²·nprobe/k — SCALE.md measured
    // 19.6× at 10× data before deriveK was wired in, 6.7× after (the
    // sf0.1 base rises ~0.5 s: 31-cell training costs more than 8-cell,
    // the price of candidates staying linear).
    "q_sim_knn_graph" -> ((s, dir) => knnGraphDf(s, dir)),

    // TWO-LEVEL (hierarchical) IVF kNN graph — the scale path past flat
    // IVF's N^1.5 boundary (SCALE.md r14: q_sim_knn_graph read 63.7× at
    // 100× rows because deriveK caps at 1024 and cells then grow
    // linearly). Coarse k1 = fine k2 = ceil(sqrt(N/64)) keeps the fine
    // population at the 64-vector target while per-row assignment work
    // is k1 + k2 = O(sqrt(N)); fine centroids are trained INSIDE each
    // coarse cell's task after the one shuffle — never driver or
    // broadcast state. Same output contract as q_sim_knn_graph (every
    // vector's top-3 cosine neighbors); the oracle replays the coarse
    // Lloyd, the per-cell fine Lloyd, both cosine assignment ranks, and
    // the scoring relationally — bit-exact. k1 derives to 3 on the
    // 500-vector verify fixture (pinned by the oracle's constants, like
    // flat IVF's 8).
    "q_sim_ivf2" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      val nEm = em.count()
      val k1 = Similarity.deriveK2(nEm)
      val cents = Similarity.kmeansTrainSpread(em, "vec_id", "embedding",
        k = k1, iters = 2, nKnown = nEm)
      Similarity.knnGraphHier(em, "vec_id", "embedding", cents.toSeq,
        k = 3, nprobe1 = 2, k2 = k1, iters2 = 2, nprobe2 = 2)
    }),

    // SHARDED two-level index — the broadcast guard's named scale-out
    // step as a running query (r16): vec_id mod 2 splits the corpus, each
    // shard trains its own coarse+fine geometry, every vector probes both
    // shards, one global knnTopK re-merges. Per-shard fine maps are half
    // the unsharded index's, which is the whole point: corpora whose fine
    // map would blow FineBroadcastBudgetBytes split here instead of
    // broadcasting multi-GB. Oracle replays BOTH shards' double-Lloyd
    // chains and the global top-k.
    "q_sim_ivf2_sharded" -> ((s, dir) =>
      Similarity.knnGraphHierSharded(Tables.embeddings(s, dir),
        "vec_id", "embedding", nShards = 2, k = 3, nprobe1 = 2,
        iters2 = 2, nprobe2 = 2)),

    // MATERIALIZED kNN edge artifact (see [[knnEdgesArtifact]]): the
    // one-per-snapshot ANN-graph build, exposed as the edge table its
    // consumers join. Oracle = the full kNN derivation replayed in SQL,
    // folded to undirected distinct pairs — proving the artifact IS the
    // graph, not a cache of convenience.
    "q_knn_edges_materialized" -> ((s, dir) =>
      Tables.parquet(s, knnEdgesArtifact(s, dir))),

    // INCREMENTAL maintenance of the kNN-graph artifact (the r10 verdict
    // item: the ANN build was the last full-rebuild cost in an otherwise
    // incremental engine): the newest 20% of vectors land as a delta
    // against a store built on the first 80% — new vectors probe the
    // FROZEN snapshot cells, only queries probing a delta-membered cell
    // re-score, untouched edge partitions never rewrite
    // (IncrementalIndexSpec pins them byte-identical). The oracle is the
    // FULL REBUILD on (base + delta) under base-trained centroids — the
    // refresh is proven equal to rebuilding, not just plausible.
    "q_knn_edges_incremental" -> ((s, dir) =>
      IncrementalIndex.Knn.edges(s, knnIncArtifact(s, dir))),

    // INCREMENTAL maintenance of the TWO-LEVEL index (r15 verdict #5:
    // the hier index is the scale-path snapshot builder, so it needs the
    // same refresh-equals-rebuild contract as the flat store): newest
    // 20% of vectors land as a delta against a store whose coarse AND
    // fine centroids froze on the first 80% — delta vectors probe the
    // frozen fine cells, only queries probing a delta-MEMBERED fine cell
    // re-score, untouched edge partitions never rewrite
    // (IncrementalIndexSpec pins them byte-identical). Oracle = the FULL
    // two-level rebuild on (base + delta) under base-trained geometry.
    "q_knn_edges_incremental_hier" -> ((s, dir) =>
      IncrementalIndex.Knn2.edges(s, knnInc2Artifact(s, dir))),

    // kNN-graph label propagation (one hop) — semi-supervised labeling
    // over the MATERIALIZED edge artifact (fourth consumer): 80% of
    // vectors act as labeled seeds, the held-out 20% take the majority
    // label of their graph neighbors (ties to the smallest label, no
    // labeled neighbor → −1). The weak-supervision primitive a labeling
    // pipeline runs over an ANN graph at corpus scale — and because the
    // edges come from the artifact, the classifier is one join + one
    // argmax, no vector math. Output is the (true, predicted) confusion
    // census, so the oracle also pins classification quality drift.
    "q_graph_knn_classify" -> ((s, dir) => {
      val e = Tables.parquet(s, knnEdgesArtifact(s, dir))
      val syme = e.select(col("a").as("node"), col("b").as("nb"))
        .unionAll(e.select(col("b").as("node"), col("a").as("nb")))
      val em = Tables.embeddings(s, dir)
        .select(col("vec_id").cast("long").as("id"),
          col("label").cast("long").as("label"))
      val votes = syme
        .join(em.filter(col("id") % 5 =!= 0)
          .select(col("id").as("nb"), col("label").as("nb_label")), "nb")
        .groupBy("node", "nb_label").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("cnt").desc, col("nb_label"))
      val pred = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("nb_label").as("pred"))
      em.filter(col("id") % 5 === 0)
        .select(col("id").as("node"), col("label").as("true_label"))
        .join(pred, Seq("node"), "left")
        .groupBy(col("true_label"),
          coalesce(col("pred"), lit(-1L)).as("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),

    // Degree distribution of the kNN graph — the first census anyone
    // runs against a graph artifact (validates the k-bound: max degree
    // is capped by how many queries keep a vector in their top-k, and a
    // heavy-tailed histogram flags hub vectors that would skew every
    // downstream wedge join). Two aggregates over the edge artifact.
    "q_graph_degree_hist" -> ((s, dir) => {
      val e = Tables.parquet(s, knnEdgesArtifact(s, dir))
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"))
    }),

    // Connected components over the kNN edge artifact — the classic
    // third graph kernel (community structure of the ANN neighborhood),
    // and the third artifact consumer: the CC kernel is the SAME
    // min-label propagation + pointer jumping the dedup family runs
    // (Dedup.dedupClusters — one join + one aggregate per round,
    // log-diameter rounds, labels are node ids so the oracle replays it
    // as a recursive reachability closure). Census per component.
    "q_graph_cc" -> ((s, dir) => {
      val e = Tables.parquet(s, knnEdgesArtifact(s, dir))
        .select(col("a").as("i"), col("b").as("j"))
      // the kNN graph is one near-giant component: convergence rounds
      // grow ~log₂(N) with pointer jumping, and the dedup default (15)
      // sits exactly at the 20k-node boundary (measured: the 10× stress
      // fixture needs round 16). 30 covers a billion-node component.
      Dedup.dedupClusters(e, maxRounds = 30)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_node"))
    }),

    // Triangle counting over the kNN graph — the third classic graph
    // kernel beside PageRank and connected components (local clustering /
    // community signal over the ANN neighborhood structure). Edges come
    // from the MATERIALIZED artifact (undirected distinct kNN pairs,
    // [[knnEdgesArtifact]]) — the kernel never touches raw vectors. The
    // node-iterator join is degree-bounded: k neighbors per vector ⇒
    // |edges| ≤ kN and the wedge join ≤ k²N — triangle counting on a
    // bounded-degree graph is linear in the corpus, never the |V|³ of
    // the dense form.
    "q_graph_triangles" -> ((s, dir) => {
      val e = CacheRegistry.persist(Tables.parquet(s, knnEdgesArtifact(s, dir)))
      val tri = e.join(e.toDF("b", "c"), "b").join(e.toDF("a", "c"), Seq("a", "c"))
      tri.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
    }),

    // IVF-PQ: both halves composed — 8 L2-trained cells prune candidates
    // (nprobe=2 per query), 4×16 PQ codebooks compress the scoring (ADC).
    // The billion-scale serving shape (FAISS IVFADC): a query touches
    // ~nprobe/k of the cell-partitioned corpus and reads codes, not
    // vectors. All-integer, so the oracle replays training, assignment,
    // probing, and every ADC sum relationally.
    "q_sim_ivfpq" -> ((s, dir) => {
      val em = Tables.embeddings(s, dir)
      // IVF centroid training, PQ codebook training, and the query
      // collect are three independent driver phases — overlap them
      // (r16; results bit-identical, see inParallel)
      val (cents, (books, queries)) = inParallel(
        Similarity.kmeansTrain(em, "vec_id", "embedding", k = 8, iters = 2),
        inParallel(
          Similarity.pqTrain(em, "vec_id", "embedding", m = 4, k = 16, iters = 2),
          em.filter(col("vec_id") < 20)
            .select(col("vec_id").cast("long"), Similarity.quantize(col("embedding")))
            .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))))
      Similarity.ivfPqTopK(em, "vec_id", "embedding", cents.toSeq, books,
        queries, k = 5, nprobe = 2)
    }),

    // IVF index MAINTENANCE as a stream: vectors arrive as a JSON topic
    // (float arrays round-trip exactly through shortest-repr JSON), are
    // assigned to the pre-trained centroids by the same broadcast-literal
    // argmin expression the batch path uses (stateless per row — identical
    // plans), and per-cell membership counts/inertia accumulate in an
    // Update-mode streaming aggregate. Counts and summed non-negative
    // distances are monotone across batches, so read-side compaction is a
    // plain max — the incremental ANN-index bookkeeping a production
    // pipeline runs on every new embedding batch.
    "q_t10_streaming_ivf" -> ((s, dir) => streamedIvfAssign(s, dir)),

    // SEMANTIC DEDUP AT INGEST (T12): arriving vectors are assigned to
    // the corpus-trained cells and flagged against the landed corpus
    // index, cell-local only — the streaming composition of
    // q_t10_streaming_ivf's assignment with q_dedup_semantic's pair
    // kernel. Oracle = the batch cell-join restricted to the drained
    // backlog (every arrival processed exactly once).
    "q_t12_streaming_semantic" -> ((s, dir) => streamedSemanticFlags(s, dir)),

    // SEMANTIC DEDUP AT INGEST, TWO-LEVEL (T28): arrivals are served
    // against the corpus-frozen hierarchical geometry and flagged
    // fine-cell-locally — the streaming twin of the batch scale path, so
    // streamed candidacy matches the batch index exactly (see
    // streamedSemanticHierFlags). Oracle = the batch fmem × qprobe
    // fine-cell pairs over the drained backlog.
    "q_t28_streaming_semantic_hier" -> ((s, dir) =>
      streamedSemanticHierFlags(s, dir)),

    // Heavy hitters AT INGEST: the Misra-Gries sketch lives in streaming
    // aggregation state (O(cap) per group, vocabulary never enters the
    // state store), final-sketch candidates exactly recounted batch-side
    // — streamed == batch == the naive GROUP BY oracle.
    "q_t13_streaming_heavy" -> ((s, dir) => streamedHeavyHitters(s, dir)),

    // ---- ragged-schema union ----

    // Schema-drift union (the reference's first-row-inference bug done
    // right): two batches with different column sets combined by NAME
    // with missing columns null-filled — unionByName(allowMissing), the
    // S4 schema-union contract as a relational operator.
    "q_union_ragged" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = docs.select(col("doc_id"), col("lang"))
      val b = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- passage chunking ----

    // Overlapping 64-token windows advancing by 48 (16-token overlap),
    // the RAG/pretraining passage splitter; md5 of each chunk pins the
    // exact token spans.
    "q_chunk_passages" -> ((s, dir) => {
      TA.chunkPassages(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          md5(col("chunk")).as("fp"))
    }),

    // ---- tf-idf ----

    // Quantized tf-idf top term per document: score = tf * 1e6 div df —
    // integer arithmetic end to end (a float idf's ln() is not
    // bit-portable across engines). Two-pass shape: (doc, term) tf with
    // map-side combine, vocabulary-sized df, join on term, per-doc top-1.
    "q_txt_tfidf" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "token")
        .withColumn("score", expr("tf * 1000000 div df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "token", "score")
    }),

    // Sparse-cosine retrieval (inverted index) — the IR-shaped sibling
    // of the dense ANN family: tf-idf term vectors scored through a
    // posting-list join on shared terms, never all-pairs; the stop-term
    // guard bounds posting fanout. The corpus vocabulary is a CLOSED
    // 31-word set (word salad), which degenerates tf-idf — so rare
    // discriminative terms are planted deterministically (the PII/fuzzy
    // synthetic-signal pattern): a topic tag shared by doc_id%40 peers
    // (planted twice — tf matters) and an entity tag shared by
    // doc_id%200 peers; the 0.05 guard keeps exactly these and drops
    // the word-salad base.
    // Local clustering coefficient — the per-node companion of
    // q_graph_triangles (how tightly each vector's ANN neighborhood
    // closes on itself): coef(v) = 2·tri(v)/(deg(v)·(deg(v)−1)), top-20
    // by the rounded coefficient. Same degree-bounded wedge joins; the
    // per-node triangle count is three projections of the one triangle
    // table. Edges come from the materialized artifact
    // ([[knnEdgesArtifact]]) — no per-kernel ANN rebuild.
    "q_graph_clustering_coef" -> ((s, dir) => {
      val e = CacheRegistry.persist(Tables.parquet(s, knnEdgesArtifact(s, dir)))
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tri = CacheRegistry.persist(
        e.join(e.toDF("b", "c"), "b").join(e.toDF("a", "c"), Seq("a", "c")))
      val triPerNode = tri.select(col("a").as("node"))
        .unionAll(tri.select(col("b").as("node")))
        .unionAll(tri.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      deg.join(triPerNode, Seq("node"))
        .filter(col("deg") >= 2)
        .withColumn("coef", round(lit(2.0) * col("tri").cast("double") /
          (col("deg").cast("double") * (col("deg").cast("double") - lit(1.0))), 4))
        .orderBy(col("coef").desc, col("node")).limit(20)
        .select(col("node"), col("deg"), col("tri"), col("coef"))
    }),

    // PMI collocation extraction — top token pairs by pointwise mutual
    // information over document co-occurrence (the classic corpus-
    // analysis signal for multi-word expressions / template detection).
    // Pair space is vocabulary-bounded, not corpus-bounded: the df floor
    // keeps only vocab-scale tokens, the self-join runs over per-doc
    // DISTINCT kept tokens (at 100 TB add a per-doc top-m cap — same
    // guard family as the stop-shingle rule). Exact integer counts in,
    // one ln out; ordering on the ROUNDED pmi + (x, y) so both engines
    // pick the identical top-20 set at the rank boundary.
    "q_txt_pmi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dt = docs.select(col("doc_id"),
        explode(TA.tokens(col("text"))).as("token")).distinct()
      val dfreq = dt.groupBy("token").agg(count(lit(1)).as("cx"))
        .filter(col("cx") >= 5)
      val kept = CacheRegistry.persist(dt.join(broadcast(dfreq), "token"))
      val a = kept.select(col("doc_id"), col("token").as("x"), col("cx").as("cxa"))
      val b = kept.select(col("doc_id"), col("token").as("y"), col("cx").as("cyb"))
      val pairs = a.join(b, "doc_id").filter(col("x") < col("y"))
        .groupBy("x", "y", "cxa", "cyb").agg(count(lit(1)).as("cxy"))
      val n = docs.agg(count(lit(1)).as("nd"))
      pairs.crossJoin(broadcast(n))
        .withColumn("pmi", round(log(col("cxy").cast("double") *
          col("nd").cast("double") /
          (col("cxa").cast("double") * col("cyb").cast("double"))), 6) + lit(0.0))
        .orderBy(col("pmi").desc, col("x"), col("y")).limit(20)
        .select(col("x"), col("y"), col("cxy"), col("pmi"))
    }),

    // MATERIALIZED inverted index (see [[irIndexArtifact]]): exposed as
    // a per-doc census over the landed tables — n_terms/kept_tf pin the
    // postings + stop-cap, sum_w pins every (tf, df) pair through the
    // integer tf-idf weight, len pins the doclen table. The oracle
    // replays the whole build relationally, so the artifact is proven
    // equal to the derivation, not just present.
    "q_ir_index_materialized" -> ((s, dir) => {
      val root = irIndexArtifact(s, dir)
      Tables.parquet(s, root + "/postings")
        .withColumn("w", col("tf") * expr("1000000 div df"))
        .groupBy("id", "isq")
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("kept_tf"),
          sum(col("w")).as("sum_w"))
        .join(Tables.parquet(s, root + "/doclen"), "id")
    }),

    // INCREMENTAL maintenance of the inverted index (the IR sibling of
    // q_knn_edges_incremental): the newest 20% of docs land as a delta —
    // tf/doclen APPEND (documents are immutable; existing files stay
    // byte-identical), df refreshes ADDITIVELY bucket-pruned
    // (refreshAdditive — only delta-vocabulary buckets rewrite), and the
    // stop-cap applies at view time against the grown corpus count so a
    // term can cross the cap in either direction. Same per-doc census as
    // the materialized index; the oracle replays the FULL build on
    // (base + delta), proving refresh == rebuild.
    "q_ir_index_incremental" -> ((s, dir) => {
      val root = irIncArtifact(s, dir)
      IncrementalIndex.Ir.postings(s, root, stopTermFrac = 0.05)
        .withColumn("w", col("tf") * expr("1000000 div df"))
        .groupBy("id", "isq")
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("kept_tf"),
          sum(col("w")).as("sum_w"))
        .join(IncrementalIndex.Ir.doclen(s, root), "id")
    }),

    // BM25 retrieval — the standard IR ranking over the same inverted
    // index and planted-signal fixture as q_sim_sparse_cosine; per-term
    // contributions floor-quantized to integer micros so the distributed
    // sum is order-free and the oracle replays every score bit for bit.
    // Scores off the MATERIALIZED index ([[irIndexArtifact]]) —
    // tokenization-free consumer plan.
    "q_sim_bm25" -> ((s, dir) => {
      val root = irIndexArtifact(s, dir)
      TA.bm25FromIndex(Tables.parquet(s, root + "/postings"),
        Tables.parquet(s, root + "/doclen"), k = 5)
    }),

    // Sparse tf-idf cosine — scores off the MATERIALIZED index
    // ([[irIndexArtifact]]); the build-from-raw path stays exercised by
    // TA.sparseCosineTopK's spec and the Recall harness.
    "q_sim_sparse_cosine" -> ((s, dir) => {
      val root = irIndexArtifact(s, dir)
      TA.sparseCosineFromIndex(Tables.parquet(s, root + "/postings"), k = 5)
    }),

    // Reciprocal-rank fusion of the two lexical rankers — the ensemble
    // retrieval shape (hybrid search fuses ranker outputs by RANK, never
    // by incomparable raw scores; RRF is its standard instance). Both
    // rankers score off the SHARED materialized index, so the fusion
    // costs two posting joins + one outer merge; contributions are the
    // EXACT integers 10⁶ div (60 + rank) (a float 1/(60+r) sum would be
    // order-dependent), absent ranks contribute 0 via the full outer
    // join, ties break on doc id. Top-3 fused per query.
    "q_sim_rrf_hybrid" -> ((s, dir) => {
      val root = irIndexArtifact(s, dir)
      val post = Tables.parquet(s, root + "/postings")
      val bm = TA.bm25FromIndex(post, Tables.parquet(s, root + "/doclen"), k = 5)
        .select(col("qid"), col("did"), expr("1000000 div (60 + rnk)").as("c1"))
      val cos = TA.sparseCosineFromIndex(post, k = 5)
        .select(col("qid"), col("did"), expr("1000000 div (60 + rnk)").as("c2"))
      val fused = bm.join(cos, Seq("qid", "did"), "full_outer")
        .select(col("qid"), col("did"),
          (coalesce(col("c1"), lit(0L)) + coalesce(col("c2"), lit(0L)))
            .as("rrf_u"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("rrf_u").desc, col("did"))
      fused.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk"), col("did"), col("rrf_u"))
    }),

    // ---- vocabulary ----

    // Global top-50 tokens by raw count with a deterministic tie-break —
    // the wordcount/top-k shape (TakeOrderedAndProject over a map-side-
    // combined aggregate).
    "q_vocab_topk" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(50)
    }),

    // EXACT distributed heavy hitters (per-language tokens above a
    // 1/(cap+1) frequency threshold) in two corpus passes, neither of
    // which shuffles the vocabulary: pass 1 is a Misra-Gries candidate
    // sketch (typed Aggregator, O(cap) state map-side and across the
    // shuffle — a guaranteed superset of the true heavy hitters) plus
    // the group totals in the same aggregate; pass 2 recounts ONLY
    // candidate rows via a broadcast semi-join and applies the exact
    // threshold, making the output deterministic and equal to the naive
    // full-vocabulary GROUP BY the oracle runs. At 100 TB the full
    // GROUP BY shuffles a billion-entry vocabulary; this shape shuffles
    // ≤ cap entries per group.
    // Count-Min sketch: ONE pass builds a 4×64 counter matrix (mergeable
    // typed Aggregator — partial sketches combine map-side, 256 longs
    // cross the shuffle), then point estimates for the exact top-20
    // tokens probe the COLLECTED registers as literal lookups (no second
    // corpus pass for estimation; the exact counts here exist only to
    // exhibit the overestimate). Registers and estimates are
    // deterministic functions of the input multiset, so the DuckDB
    // oracle rebuilds the sketch relationally and matches bit for bit.
    "q_agg_countmin" -> ((s, dir) => {
      import graft.functions.CountMin
      val toks = Tables.documents(s, dir)
        .select(explode(TA.tokens(col("text"))).as("token"))
      val regs = toks.agg(CountMin.sketch(col("token"), d = 4, w = 64).as("regs"))
        .head.getSeq[Long](0).toArray
      toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(20)
        .withColumn("cms_est", CountMin.estimate(col("token"), regs, d = 4, w = 64))
    }),

    // Join-cardinality estimation by CMS inner product (the AMS/CM
    // sketch-composition result: E[Σ_b a_b·b_b] = |A⋈B| + collision
    // excess, so min over the d seed rows is a one-pass upper estimate).
    // Each side is ONE mergeable sketch aggregate — O(d·w) longs across
    // the shuffle, keys never collected — and the inner product is
    // driver-side config-scale math. The exact join count rides along to
    // validate the estimate (a production planner would skip it: the
    // whole point is estimating WITHOUT running the join).
    "q_join_size_cms" -> ((s, dir) => {
      import graft.functions.CountMin
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").cast("string").as("k"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("string").as("k"))
      // w scales with key cardinality: the inner-product error is
      // additive ~N_a*N_b/w, so a planner sizes w to push the excess
      // under the signal (w=64 gave a 235x overestimate here; 8192
      // lands within ~2x — still only 32k longs of state per side)
      // the two per-side sketch aggregates are independent single-job
      // collects — overlap them (r16; see inParallel)
      val (ra, rb) = inParallel(
        li.agg(CountMin.sketch(col("k"), d = 4, w = 8192))
          .head.getSeq[Long](0).toArray,
        ord.agg(CountMin.sketch(col("k"), d = 4, w = 8192))
          .head.getSeq[Long](0).toArray)
      val est = (0 until 4).map(sd =>
        (0 until 8192).map(b => ra(sd * 8192 + b) * rb(sd * 8192 + b)).sum).min
      // the exact validation join keys on the ORIGINAL 8-byte longs, not
      // the string cast the sketches hash (guide §2.3 narrower types):
      // long→string is injective, so the join count is identical while
      // the exchange carries 8-byte keys instead of ~6-13-byte strings +
      // offsets. Only the sketch aggregates need the string form (the
      // oracle replays their byte-level hash).
      Tables.lineitem(s, dir).select(col("l_orderkey").as("lk"))
        .join(Tables.orders(s, dir).select(col("o_orderkey").as("lk")), Seq("lk"))
        .agg(count(lit(1)).as("exact"))
        .select(col("exact"), lit(est).as("cms_est"))
    }),

    "q_agg_heavy_hitters" -> ((s, dir) => {
      import graft.functions.MisraGries
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(TA.tokens(col("text"))).as("token"))
      val pass1 = toks.groupBy("lang").agg(
        MisraGries.candidates(col("token"), HeavyHitterCap).as("cands"),
        count(lit(1)).as("total"))
      val cands = pass1.select(col("lang"), col("total"),
        explode(col("cands")).as("token"))
      toks.join(broadcast(cands), Seq("lang", "token"))
        .groupBy("lang", "token").agg(
          count(lit(1)).as("cnt"), first(col("total")).as("total"))
        .filter(col("cnt") * (HeavyHitterCap + 1) > col("total"))
    }),

    // Edit-distance-bounded FUZZY JOIN (typo normalization): noisy query
    // terms — each doc's lead token, deterministically perturbed for ⅔ of
    // docs (the corpus vocabulary is a closed 31-word set with no natural
    // typos; same synthetic-signal pattern as the PII fixtures) — joined
    // to the corpus vocabulary within Levenshtein distance 1 via SymSpell
    // deletion-neighborhood signatures: explode ×(len+1), ONE equi-join
    // on the signature key (a guaranteed candidate superset), exact
    // levenshtein verify on candidates only. The bucket-then-verify
    // shape of the LSH family with signatures as the band key — never an
    // all-pairs edit-distance product.
    "q_join_fuzzy" -> ((s, dir) => {
      import graft.ops.Fuzzy
      val docs = Tables.documents(s, dir)
      val term0 = element_at(split(col("text"), " "), 1)
      val terms = docs.select(
          when(col("doc_id") % 3 === 1, concat(term0, lit("x")))
            .when(col("doc_id") % 3 === 2, term0.substr(lit(1), length(term0) - 1))
            .otherwise(term0).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n_docs"))
      val vocab = docs.select(explode(TA.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      Fuzzy.joinWithin1(terms, "term", vocab, "word")
        .filter(col("term") =!= col("word"))
    })
  )

  /** Misra-Gries capacity for q_agg_heavy_hitters: frequency threshold is
    * 1/(cap+1) of the group's tokens. 64 keeps the sketch state at a few
    * KiB per group while the fixture's hot-word design puts ~30 tokens
    * per language above the bar.
    */
  private val HeavyHitterCap = 64

  // ---- oracles ----

  private val emailSql = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipSql = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneSql = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"

  /** Unrolled 2-iteration Lloyd SQL (mirrors Similarity.kmeansLloyd with
    * k=8, iters=2, dim=64): assignment via row_number over exact integer
    * distances, centroid update via per-dimension floor(sum/n), empty
    * cells inherit the previous centroid.
    */
  /** ONE apply step and ONE oracle shared by q_decontaminate (batch flags)
    * and q_t11_streaming_decon (streamed flags) — the streaming == batch
    * equivalence is a single definition, not two copies that can drift.
    */
  private def decontaminateApply(s: SparkSession, dir: String,
                                 flagged: DataFrame): DataFrame =
    Tables.documents(s, dir).filter(col("source") =!= "src0")
      .join(broadcast(flagged), Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        max(col("doc_id")).as("max_doc"))

  private val sqlDecontaminate: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      |       FROM toks, unnest(generate_series(1, len(toks)-4)) AS t(i)),
      |b AS (SELECT DISTINCT shingle FROM sh JOIN documents USING (doc_id)
      |      WHERE source = 'src0'),
      |flagged AS (
      |  SELECT sh.doc_id FROM sh JOIN documents d USING (doc_id) JOIN b USING (shingle)
      |  WHERE d.source <> 'src0'
      |  GROUP BY 1 HAVING count(*) >= 3)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  max(doc_id) AS max_doc
      |FROM documents
      |WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM flagged)
      |GROUP BY 1""".stripMargin

  /** Landing for q_t11_streaming_decon: the training corpus streams in as
    * a JSON topic, is shingled by the SAME typed pass the batch path uses
    * (typed flatMap is stream-safe), joined against the static broadcast
    * benchmark shingle set, and each doc's overlap count lands from an
    * Update-mode aggregate — contamination flagged ON INGEST, the
    * production curation shape. Counts are monotone (each doc arrives in
    * exactly one batch), so compaction is the usual read-side max.
    */
  /** Landing for q_t14_streaming_countmin: the CMS register table built BY
    * THE STREAMING PATH — documents arrive as a JSON topic, tokens explode
    * per batch, and per-(seed, bucket) counts aggregate in Update mode
    * with O(d·w) state. Register counts are MONOTONE non-decreasing
    * across batches (pure addition), so read-side compaction of the
    * Update re-emissions is a plain max — the same no-batch_id discipline
    * as the streamed HLL registers (max-of-maxes) and histogram
    * (sum-of-sums): Count-Min is the third mergeable-sketch shape pinned
    * streaming-safe, and its streamed registers hash-match the batch
    * relational build (the q_agg_countmin oracle's `regs` CTE).
    */
  /** DuckDB replay of q_sim_knn_graph (also the edge source for the
    * q_graph_triangles oracle). */
  private def sqlKnnGraph: String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    s"""WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64)},
       |cents AS (SELECT cid, q AS qc FROM cents2),
       |cassign AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.q, c.qc) /
       |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.qc, c.qc))) DESC,
       |        c.cid) AS rk
       |  FROM em e, cents c),
       |cells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk = 1),
       |qcells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk <= 2),
       |scored AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $cos AS cos
       |  FROM em a JOIN cells ca ON ca.vec_id = a.vec_id,
       |       em b JOIN qcells cb ON cb.vec_id = b.vec_id
       |  WHERE a.vec_id <> b.vec_id AND ca.cell = cb.cell)
       |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM scored) r
       |WHERE rnk <= 3""".stripMargin
  }

  /** DuckDB replay of q_knn_edges_incremental: the FULL kNN rebuild over
    * (base + delta) with centroids trained on the BASE 80% only — the
    * frozen-cells contract the incremental store maintains. Identical to
    * [[sqlKnnGraph]] except the k-means CTE chain trains on the filtered
    * `em` while assignment/scoring run over the unfiltered `emf`.
    */
  private def sqlKnnGraphInc: String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    val baseWhere =
      " WHERE vec_id < (SELECT (max(vec_id)+1)*4//5 FROM embeddings)"
    s"""WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64, where = baseWhere)},
       |emf AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |cents AS (SELECT cid, q AS qc FROM cents2),
       |cassign AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.q, c.qc) /
       |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.qc, c.qc))) DESC,
       |        c.cid) AS rk
       |  FROM emf e, cents c),
       |cells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk = 1),
       |qcells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk <= 2),
       |scored AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $cos AS cos
       |  FROM emf a JOIN cells ca ON ca.vec_id = a.vec_id,
       |       emf b JOIN qcells cb ON cb.vec_id = b.vec_id
       |  WHERE a.vec_id <> b.vec_id AND ca.cell = cb.cell)
       |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM scored) r
       |WHERE rnk <= 3""".stripMargin
  }

  /** DuckDB replay of q_sim_ivf2 — the two-level IVF kNN graph: coarse
    * Lloyd ([[sqlKmeansCtes]]), cosine coarse assignment (top-1 =
    * membership, top-np1 = probes), PER-COARSE-CELL fine Lloyd (the same
    * exact-integer rules grouped by (cell, fcid); seeds = the k2
    * lowest member ids per cell), cosine fine serving, global top-k.
    * Mirrors Similarity.knnGraphHier's kernel: fine-cell identity there
    * is positional over id-ordered seeds, here fcid = the seed vec_id —
    * ascending index order IS ascending fcid order, so every tie-break
    * agrees. */
  private def sqlIvf2(k1: Int, k2: Int, np1: Int, np2: Int,
                      iters2: Int, dim: Int, k: Int): String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    s"""WITH ${sqlIvf2Ctes(k1, k2, np1, np2, iters2, dim)},
       |scored AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $cos AS cos
       |  FROM ema a JOIN fmem fm ON fm.vec_id = a.vec_id,
       |       ema b JOIN qprobe qp ON qp.vec_id = b.vec_id
       |  WHERE a.vec_id <> b.vec_id AND fm.cell = qp.cell AND fm.fcid = qp.fcid)
       |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM scored) r
       |WHERE rnk <= $k""".stripMargin
  }

  /** Two-level pair-family oracle: the [[sqlIvf2Ctes]] derivation with an
    * all-pairs tau-scored final over the probe rows — q_dedup_semantic's
    * semantics on the hierarchical index's fine cells. */
  private def sqlSemanticHier(k1: Int, k2: Int, np1: Int, np2: Int,
                              iters2: Int, dim: Int, tau: Double): String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    s"""WITH ${sqlIvf2Ctes(k1, k2, np1, np2, iters2, dim)},
       |scored AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j, $cos AS cos
       |  FROM ema a JOIN qprobe pa ON pa.vec_id = a.vec_id,
       |       ema b JOIN qprobe pb ON pb.vec_id = b.vec_id
       |  WHERE a.vec_id < b.vec_id AND pa.cell = pb.cell AND pa.fcid = pb.fcid)
       |SELECT DISTINCT i, j, round(cos, 4) AS cos FROM scored
       |WHERE cos >= $tau""".stripMargin
  }

  /** DuckDB replay of q_knn_edges_incremental_hier: the FULL two-level
    * rebuild over (base + delta) with BOTH Lloyd levels trained on the
    * base 80% only — the frozen-geometry contract the hierarchical store
    * maintains ([[IncrementalIndex.Knn2]]). [[sqlIvf2]] with the
    * trainPred restriction; serving reads `ema` (all vectors).
    */
  private def sqlIvf2Inc(k1: Int, k2: Int, np1: Int, np2: Int,
                         iters2: Int, dim: Int, k: Int): String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    val basePred = "vec_id < (SELECT (max(vec_id)+1)*4//5 FROM embeddings)"
    s"""WITH ${sqlIvf2Ctes(k1, k2, np1, np2, iters2, dim, trainPred = basePred)},
       |scored AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $cos AS cos
       |  FROM ema a JOIN fmem fm ON fm.vec_id = a.vec_id,
       |       ema b JOIN qprobe qp ON qp.vec_id = b.vec_id
       |  WHERE a.vec_id <> b.vec_id AND fm.cell = qp.cell AND fm.fcid = qp.fcid)
       |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM scored) r
       |WHERE rnk <= $k""".stripMargin
  }

  /** DuckDB replay of q_sim_ivf2_sharded: per shard (vec_id mod nShards)
    * the FULL two-level chain — coarse+fine Lloyd trained on the shard,
    * membership (fmem) restricted to the shard, probes (qprobe) over
    * EVERY vector — each inside its own `(WITH ...)` subquery so the CTE
    * names never collide, then one global row_number top-k over the
    * unioned shard scores (the cross-shard re-merge, exactly
    * [[graft.ops.Similarity.knnGraphHierSharded]]'s knnTopK). `k1`/`k2`
    * are PER-SHARD deriveK2 values (shards of 250 at sf0.01 ⇒ 2). */
  private def sqlIvf2Sharded(nShards: Int, k1: Int, k2: Int, np1: Int,
                             np2: Int, iters2: Int, dim: Int, k: Int): String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    val shardScored = (0 until nShards).map { s =>
      s"""(WITH ${sqlIvf2Ctes(k1, k2, np1, np2, iters2, dim,
             trainPred = s"vec_id % $nShards = $s", membersFromTrain = true)},
         |scored AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $cos AS cos
         |  FROM ema a JOIN fmem fm ON fm.vec_id = a.vec_id,
         |       ema b JOIN qprobe qp ON qp.vec_id = b.vec_id
         |  WHERE a.vec_id <> b.vec_id AND fm.cell = qp.cell AND fm.fcid = qp.fcid)
         |SELECT query_id, cand_id, cos FROM scored)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM ($shardScored) u) r
       |WHERE rnk <= $k""".stripMargin
  }

  /** Fused-cluster oracle: the [[sqlSemanticHier]] τ-pair derivation
    * closed transitively (the q_graph_cc reach pattern) — the census the
    * spanning-forest fusion must reproduce exactly, since spanning
    * forests generate the same connectivity as the full τ-pair set. */
  private def sqlSemanticClusters(k1: Int, k2: Int, np1: Int, np2: Int,
                                  iters2: Int, dim: Int, tau: Double): String = {
    val cos = "(list_dot_product(a.q, b.q) / " +
      "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
    s"""WITH RECURSIVE ${sqlIvf2Ctes(k1, k2, np1, np2, iters2, dim)},
       |scored AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j, $cos AS cos
       |  FROM ema a JOIN qprobe pa ON pa.vec_id = a.vec_id,
       |       ema b JOIN qprobe pb ON pb.vec_id = b.vec_id
       |  WHERE a.vec_id < b.vec_id AND pa.cell = pb.cell AND pa.fcid = pb.fcid),
       |pairs AS (SELECT DISTINCT i, j FROM scored WHERE cos >= $tau),
       |syme AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM syme
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN syme e ON r.b = e.a),
       |lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a)
       |SELECT cluster, count(*) AS n_members, max(a) AS max_id
       |FROM lab GROUP BY 1""".stripMargin
  }

  /** Shared derivation CTEs of the two-level index (through `fmem` /
    * `qprobe`): coarse Lloyd (spread seeds), cosine coarse assignment,
    * per-cell fine Lloyd, cosine fine membership + probes. */
  /** `trainPred` (optional vec_id predicate) restricts BOTH Lloyd levels
    * to the base corpus while serving (cassign/mem/fmem/qprobe) runs over
    * every vector — the frozen-geometry contract the incremental
    * two-level store maintains ([[IncrementalIndex.Knn2]]). Serving
    * always reads the `ema` CTE (the full quantized table); `em` (from
    * sqlKmeansCtes) carries the training restriction. */
  /** `membersFromTrain` additionally restricts the SERVED membership
    * (`fmem`) to the trainPred rows — the sharded-index contract, where a
    * shard's candidates are its own vectors only while `qprobe` still
    * covers every vector (see [[sqlIvf2Sharded]]). The default keeps the
    * incremental-store semantics: frozen-geometry training, full-corpus
    * membership. */
  private def sqlIvf2Ctes(k1: Int, k2: Int, np1: Int, np2: Int,
                          iters2: Int, dim: Int,
                          trainPred: String = "",
                          membersFromTrain: Boolean = false): String = {
    require(!membersFromTrain || trainPred.nonEmpty,
      "membersFromTrain needs a trainPred")
    val memT = if (trainPred.isEmpty) "mem" else "memt"
    val fmemSrc = if (membersFromTrain) memT else "mem"
    val memtCte =
      if (trainPred.isEmpty) ""
      else s"memt AS (SELECT * FROM mem WHERE $trainPred),\n"
    def fineUpdate(i: Int) =
      s"""fex$i AS (SELECT a.cell, a.fcid, t.i, a.q[t.i] AS v
         |  FROM fa$i a, unnest(generate_series(1, $dim)) AS t(i)),
         |fcs$i AS (SELECT cell, fcid, i,
         |    CAST(CASE WHEN sum(v) >= 0 OR sum(v) % count(*) = 0
         |         THEN sum(v) // count(*)
         |         ELSE sum(v) // count(*) - 1 END AS BIGINT) AS cv
         |  FROM fex$i GROUP BY 1, 2, 3),
         |fcn$i AS (SELECT cell, fcid, list(cv ORDER BY i) AS q
         |  FROM fcs$i GROUP BY cell, fcid),
         |fcents$i AS (SELECT cell, fcid, q FROM fcn$i
         |  UNION ALL
         |  SELECT c.cell, c.fcid, c.q FROM fcents${i - 1} c
         |  WHERE NOT EXISTS (SELECT 1 FROM fcn$i n
         |                    WHERE n.cell = c.cell AND n.fcid = c.fcid))""".stripMargin
    def fineAssign(name: String, cents: String) =
      s"""$name AS (SELECT cell, vec_id, q, fcid FROM (
         |  SELECT m.cell, m.vec_id, m.q, c.fcid,
         |    row_number() OVER (PARTITION BY m.cell, m.vec_id
         |      ORDER BY ${sqlL2("m.q", "c.q")}, c.fcid) AS rn
         |  FROM $memT m JOIN $cents c ON c.cell = m.cell) WHERE rn = 1)""".stripMargin
    val fineIters = (1 to iters2).map(i =>
      fineAssign(s"fa$i", s"fcents${i - 1}") + ",\n" + fineUpdate(i)).mkString(",\n")
    s"""${sqlKmeansCtes(k = k1, iters = 2, dim = dim,
          where = if (trainPred.isEmpty) "" else s" WHERE $trainPred",
          seedSpread = true)},
       |ema AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |cents AS (SELECT cid, q AS qc FROM cents2),
       |cassign AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.q, c.qc) /
       |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.qc, c.qc))) DESC,
       |        c.cid) AS rk
       |  FROM ema e, cents c),
       |cells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk = 1),
       |qcells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk <= $np1),
       |mem AS (SELECT c.cell, e.vec_id, e.q
       |  FROM ema e JOIN cells c ON c.vec_id = e.vec_id),
       |${memtCte}fcents0 AS (SELECT cell, vec_id AS fcid, q FROM (
       |  SELECT cell, vec_id, q,
       |    row_number() OVER (PARTITION BY cell ORDER BY
       |      ${graft.functions.Hashing.sqlMd5Long("CAST(vec_id AS VARCHAR)")},
       |      vec_id) AS rn
       |  FROM $memT) WHERE rn <= $k2),
       |$fineIters,
       |fcents AS (SELECT cell, fcid, q FROM fcents$iters2),
       |fmem AS (SELECT cell, fcid, vec_id FROM (
       |  SELECT m.cell, m.vec_id, c.fcid,
       |    row_number() OVER (PARTITION BY m.cell, m.vec_id
       |      ORDER BY list_dot_product(m.q, c.q) /
       |        (sqrt(list_dot_product(m.q, m.q)) * sqrt(list_dot_product(c.q, c.q))) DESC,
       |        c.fcid) AS rn
       |  FROM $fmemSrc m JOIN fcents c ON c.cell = m.cell) WHERE rn = 1),
       |qprobe AS (SELECT cell, fcid, vec_id FROM (
       |  SELECT qc.cell, qc.vec_id, c.fcid,
       |    row_number() OVER (PARTITION BY qc.cell, qc.vec_id
       |      ORDER BY list_dot_product(e.q, c.q) /
       |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.q, c.q))) DESC,
       |        c.fcid) AS rn
       |  FROM qcells qc JOIN ema e ON e.vec_id = qc.vec_id
       |       JOIN fcents c ON c.cell = qc.cell) WHERE rn <= $np2)""".stripMargin
  }

  /** The kNN graph (see q_sim_knn_graph); also the edge source for
    * q_graph_triangles. */
  private def knnGraphDf(s: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(s, dir)
    val kCells = Similarity.deriveK(em.count())
    val cents = Similarity.kmeansTrain(em, "vec_id", "embedding",
      k = kCells, iters = 2)
    Similarity.knnGraph(em, "vec_id", "embedding", cents.toSeq,
      k = 3, nprobe = 2)
  }

  /** Corpus size past which [[knnEdgesArtifact]]'s snapshot build swaps
    * from flat IVF to the two-level index: `deriveK`'s 1024-cell cap
    * boundary (TargetCellSize × 1024 = 65 536 vectors). Below it flat IVF
    * sits at its k = N/64 optimum (and the DuckDB oracle replays it
    * bit-exact at fixture scale); above it flat cells grow linearly with
    * the corpus — SCALE.md r15 measured flat at 76.5 s vs hier's 28.8 s
    * at 2M vectors with hier recall HIGHER (0.992 vs 0.982 @3), so past
    * the cap the swap strictly dominates.
    */
  private[graft] val HierSwapVectors: Long = Similarity.TargetCellSize * 1024L

  /** True ⇢ the edge-artifact build should use the two-level index for a
    * corpus of `n` vectors — the dispatch rule, split out so the boundary
    * is unit-testable. */
  private[graft] def useHierEdges(n: Long): Boolean = n > HierSwapVectors

  /** Corpus size past which ONE two-level index can no longer hold the
    * whole corpus: the [[graft.ops.Similarity.deriveK2]] ceiling (1024
    * coarse × 1024 fine × TargetCellSize-row cells ≈ 67M vectors) — past
    * it the single index's fine cells grow linearly again (and at
    * production dims the fine map blows the broadcast budget first), so
    * the build splits into ⌈n / ShardVectors⌉ shards of
    * [[graft.ops.Similarity.knnGraphHierSharded]]. */
  private[graft] val ShardVectors: Long =
    Similarity.TargetCellSize * 1024L * 1024L

  /** Shards the edge-artifact build uses for a corpus of `n` vectors —
    * the third rung of the dispatch ladder (flat → hier → sharded hier),
    * split out so the boundary is unit-testable like [[useHierEdges]]. */
  private[graft] def deriveShards(n: Long): Int =
    math.max(1L, math.ceil(n.toDouble / ShardVectors).toLong).toInt

  /** Size-dispatched edge-graph builder for [[knnEdgesArtifact]]: flat
    * IVF at oracle scale (the DuckDB replay pins it), [[Similarity
    * .knnGraphHier]] past [[HierSwapVectors]], [[Similarity
    * .knnGraphHierSharded]] past [[ShardVectors]] (⌈n/ShardVectors⌉
    * shards, each under the per-index deriveK2 ceiling) — identical
    * output schema (query_id, rnk, cand_id, cos) on every rung, so
    * consumers never change. `forceHier`/`forceShards` are the
    * differential-spec seams (HierArtifactSpec runs the hier and sharded
    * builds at fixture scale against the same consumers).
    */
  private[graft] def knnEdgesDf(s: SparkSession, dir: String,
                                forceHier: Boolean = false,
                                forceShards: Int = 0): DataFrame = {
    val em = Tables.embeddings(s, dir)
    val n = em.count()
    val shards = if (forceShards > 0) forceShards else deriveShards(n)
    if (shards > 1)
      Similarity.knnGraphHierSharded(em, "vec_id", "embedding",
        nShards = shards, k = 3, nprobe1 = 2, iters2 = 2, nprobe2 = 2)
    else if (!forceHier && !useHierEdges(n)) knnGraphDf(s, dir)
    else {
      val k1 = Similarity.deriveK2(n)
      val cents = Similarity.kmeansTrainSpread(em, "vec_id", "embedding",
        k = k1, iters = 2, nKnown = n)
      Similarity.knnGraphHier(em, "vec_id", "embedding", cents.toSeq,
        k = 3, nprobe1 = 2, k2 = k1, iters2 = 2, nprobe2 = 2)
    }
  }

  private val knnEdgePaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Test seam: point `dir`'s edge artifact at a pre-built path (returns
    * the previous binding so the spec can restore it). Lets the
    * differential spec feed the UNCHANGED consumer queries a hier-built
    * edge table at fixture scale. */
  private[graft] def seedKnnEdges(dir: String,
                                  path: Option[String]): Option[String] = {
    val prev = knnEdgePaths.get(dir)
    path match {
      case Some(p) => knnEdgePaths.put(dir, p)
      case None => knnEdgePaths.remove(dir)
    }
    prev
  }

  /** MATERIALIZED kNN edge set — the graph-family sibling of
    * [[DocQueries.dedupLabelsArtifact]]: the expensive derivation
    * (k-means training + IVF-pruned top-3 cosine self-join,
    * [[knnGraphDf]]) runs ONCE per corpus snapshot and lands as an
    * undirected, deduplicated `(a, b)` parquet edge table; every graph
    * kernel (triangles, clustering coefficient, and any future
    * label-propagation/community pass) joins the edge artifact instead
    * of rebuilding the ANN graph from raw vectors. Degree is bounded by
    * construction (k=3 neighbors per query vertex ⇒ |E| ≤ kN), so the
    * artifact is corpus-linear and the consumers' wedge joins stay ≤ k²N.
    * At 100 TB this is one ANN-graph job per snapshot instead of one per
    * kernel — the same materialize-once deployment shape as the dedup
    * label table. The build kernel is SIZE-DISPATCHED ([[knnEdgesDf]]):
    * flat IVF at oracle scale (the sf-scale optimum and the DuckDB
    * replay), [[graft.ops.Similarity.knnGraphHier]] past
    * [[HierSwapVectors]] — identical output schema, measured 13× faster
    * at 200k vectors with HIGHER recall (q_sim_ivf2's oracle + SCALE.md
    * r15 rows prove the swap), so consumers never change.
    * HierArtifactSpec runs the hier build through the unchanged
    * consumers differentially.
    */
  /** Fold a directed kNN result (query_id, cand_id, …) to the artifact's
    * undirected distinct (a, b) edge set — shared by the production build
    * and HierArtifactSpec's differential build so the two can never
    * disagree on what "the edge table" means. */
  private[graft] def foldUndirected(knn: DataFrame): DataFrame =
    knn.filter(col("query_id") =!= col("cand_id"))
      .select(least(col("query_id"), col("cand_id")).as("a"),
        greatest(col("query_id"), col("cand_id")).as("b"))
      .distinct()

  private[graft] def knnEdgesArtifact(s: SparkSession, dir: String): String =
    knnEdgePaths.getOrElseUpdate(dir, {
      val out = java.nio.file.Files
        .createTempDirectory("graft_knn_edges_").toString + "/edges"
      foldUndirected(knnEdgesDf(s, dir))
        .write.mode("overwrite").parquet(out)
      out
    })

  /** The planted-signal retrieval fixture shared by the sparse IR family
    * (see q_sim_sparse_cosine's scaladoc for why signals are planted). */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" topic"), (col("doc_id") % 40).cast("string"),
        lit(" topic"), (col("doc_id") % 40).cast("string"),
        lit(" ent"), (col("doc_id") % 200).cast("string")).as("text"))

  private val irIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** MATERIALIZED inverted index — the IR-family materialize-once
    * artifact: the corpus-priced build (tokenize → hash → tf → df →
    * stop-cap, [[TA.irIndex]]) runs ONCE per snapshot and lands as two
    * parquet tables, `postings` (id, isq, token, tf, df) and `doclen`
    * (id, len); both sparse retrieval consumers (tf-idf cosine, BM25)
    * score straight off the tables — no per-query tokenization. At
    * 100 TB the index is the expensive part (a full corpus scan +
    * vocabulary aggregate); scoring is posting-join-sized. Returns the
    * artifact ROOT (two subdirs).
    */
  private[graft] def irIndexArtifact(s: SparkSession, dir: String): String =
    irIndexPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ir_index_").toString
      val (postings, doclen) = TA.irIndex(plantedDocs(s, dir),
        "doc_id", "text", isQuery = col("doc_id") < 20, stopTermFrac = 0.05)
      postings.write.mode("overwrite").parquet(root + "/postings")
      doclen.write.mode("overwrite").parquet(root + "/doclen")
      root
    })

  private val knnIncPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** INCREMENTALLY-maintained kNN store (see `q_knn_edges_incremental`):
    * built on the first 80% of vectors, refreshed with the newest 20% —
    * the deriveBlocks boundary rule (`(max+1)·4/5`, one metadata
    * aggregate), matching the oracle's base/delta split.
    */
  private[graft] def knnIncArtifact(s: SparkSession, dir: String): String =
    knnIncPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_knn_inc_").toString
      val em = Tables.embeddings(s, dir)
      val deltaFrom =
        (em.agg(max(col("vec_id"))).head().getLong(0) + 1L) * 4L / 5L
      IncrementalIndex.Knn.build(
        em.filter(col("vec_id") < deltaFrom), "vec_id", "embedding", root)
      IncrementalIndex.Knn.refresh(s, root,
        em.filter(col("vec_id") >= deltaFrom), "vec_id", "embedding")
      root
    })

  private val knnInc2Paths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** INCREMENTALLY-maintained TWO-LEVEL kNN store (see
    * `q_knn_edges_incremental_hier`): the hierarchical sibling of
    * [[knnIncArtifact]] — built on the first 80% of vectors (coarse AND
    * fine centroids freeze there), refreshed with the newest 20%, same
    * deriveBlocks boundary rule as the flat store.
    */
  private[graft] def knnInc2Artifact(s: SparkSession, dir: String): String =
    knnInc2Paths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_knn_inc2_").toString
      val em = Tables.embeddings(s, dir)
      val deltaFrom =
        (em.agg(max(col("vec_id"))).head().getLong(0) + 1L) * 4L / 5L
      IncrementalIndex.Knn2.build(
        em.filter(col("vec_id") < deltaFrom), "vec_id", "embedding", root)
      IncrementalIndex.Knn2.refresh(s, root,
        em.filter(col("vec_id") >= deltaFrom), "vec_id", "embedding")
      root
    })

  private val irIncPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** INCREMENTALLY-maintained inverted-index store (see
    * `q_ir_index_incremental`): base = first 80% of docs, delta = the
    * newest 20%, same planted-signal fixture as the materialized index.
    */
  private[graft] def irIncArtifact(s: SparkSession, dir: String): String =
    irIncPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ir_inc_").toString
      val docs = plantedDocs(s, dir)
      val deltaFrom =
        (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 4L / 5L
      val isq = col("doc_id") < 20
      IncrementalIndex.Ir.build(docs.filter(col("doc_id") < deltaFrom),
        "doc_id", "text", isq, root)
      IncrementalIndex.Ir.refresh(s, root,
        docs.filter(col("doc_id") >= deltaFrom), "doc_id", "text", isq)
      root
    })

  private val streamCmsPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedCountMinRegs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val out = streamCmsPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_cms_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      Tables.documents(s, dir)
        .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      // seed fan-out is a CONSTANT-array explode; the seeded md5 runs in
      // the codegen'd Project ABOVE the Generate. Folding the md5 into
      // the generator (explode over computed structs) evaluates it
      // INTERPRETED per emitted row — measured 71 s landing vs ~8 s for
      // this shape at sf0.1 (the Generate/CollapseProject trap, again).
      val regs = decoded
        .select(explode(TA.tokens(col("text"))).as("token"))
        .select(col("token"), explode(typedLit((0L until 4L).toSeq)).as("s"))
        .select(col("s"),
          (Hashing.md5Long(concat(col("token"), lit("#"),
            col("s").cast("string"))) % 64).as("b"))
        .groupBy(col("s"), col("b"))
        .agg(count(lit(1)).as("c"))
      graft.streaming.Landing.availableNow(regs, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("s", "b").agg(max(col("c")).as("c"))
  }

  private val streamDeconPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedContaminationFlags(s: SparkSession, dir: String): DataFrame = {
    val out = streamDeconPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_decon_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val docs = Tables.documents(s, dir)
      val bench = Dedup.shingles(docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5).select("shingle").distinct()
      docs.filter(col("source") =!= "src0")
        .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val flags = Dedup.shingles(decoded, "doc_id", "text", n = 5)
        .join(broadcast(bench), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      graft.streaming.Landing.availableNow(flags, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("doc_id").agg(max(col("n_overlap")).as("n_overlap"))
  }

  /** Landing for [[queries q_t10_streaming_ivf]] (one per sfDir per JVM,
    * the memoized-fixture pattern): train centroids batch-side, stream the
    * embeddings topic through the same assignment expression, land the
    * Update-mode per-cell aggregate, compact with a read-side max.
    */
  private val streamIvfPaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedIvfAssign(s: SparkSession, dir: String): DataFrame = {
    val out = streamIvfPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_ivf_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val em = Tables.embeddings(s, dir)
      val cents = Similarity.kmeansTrain(em, "vec_id", "embedding", k = 8, iters = 2)
      em.select(to_json(struct(col("vec_id"), col("embedding"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      // same output shape as q_emb_kmeans: every measure (count, id
      // checksum, inertia) is a monotone non-negative accumulator, so the
      // read-side max compaction is exact
      val counts = Similarity
        .assignWithCentroids(decoded, "vec_id", "embedding", cents.toSeq)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_checksum"),
          sum(col("dist")).as("inertia"))
      graft.streaming.Landing.availableNow(counts, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("cell")
      .agg(max(col("n_members")).as("n_members"),
        max(col("id_checksum")).as("id_checksum"),
        max(col("inertia")).as("inertia"))
  }

  /** Arrivals split for q_t12_streaming_semantic: vec_id < cut is the
    * LANDED corpus (trains the cells, sits indexed on the static side);
    * vec_id >= cut streams in as the arriving backlog.
    */
  private[graft] val SemStreamCut = 400L

  /** Landing for [[queries q_t12_streaming_semantic]] — SEMANTIC DEDUP AT
    * INGEST, the streaming shape of `semanticPairs`: cells are trained
    * batch-side on the landed corpus; each ARRIVING vector is assigned to
    * its cell by the same stateless broadcast-literal argmin the batch
    * path uses, joined against the corpus index ON THE CELL KEY ONLY
    * (never corpus × arrivals), and flagged when a corpus member clears
    * the batch τ. Per-arrival flags aggregate in Update mode; each
    * arrival lives in exactly one micro-batch, so every group is emitted
    * exactly once (no-replay pinned in SemanticDedupSpec) and read-side
    * compaction is a formality. The cell join is the 100 TB posture: an
    * arriving batch touches ~1/k of the corpus index, and a hot cell is
    * bounded by the same cap family as the batch kernel.
    */
  private[graft] val streamSemPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedSemanticFlags(s: SparkSession, dir: String): DataFrame = {
    val out = streamSemPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_sem_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val em = Tables.embeddings(s, dir)
      val corpus = em.filter(col("vec_id") < SemStreamCut)
      val cents = Similarity.kmeansTrain(corpus, "vec_id", "embedding",
        k = 8, iters = 2)
      val sq = (c: org.apache.spark.sql.Column) =>
        aggregate(transform(c, x => x * x), lit(0L), (acc, x) => acc + x)
      val corpusIdx = Similarity
        .assignWithCentroidsTopP(corpus, "vec_id", "embedding", cents.toSeq, 1)
        .withColumn("ni", sq(col("q")))
        .filter(col("ni") > 0L)
        .select(col("id").as("i"), col("q").as("qi"), col("ni"), col("cell"))
      em.filter(col("vec_id") >= SemStreamCut)
        .select(to_json(struct(col("vec_id"), col("embedding"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val arrivals = Similarity
        .assignWithCentroidsTopP(decoded, "vec_id", "embedding", cents.toSeq, 1)
        .withColumn("nj", sq(col("q")))
        .filter(col("nj") > 0L)
        .select(col("id").as("j"), col("q").as("qj"), col("nj"), col("cell"))
      // same float shape as the batch kernel/oracle: exact integer dot,
      // correctly-rounded sqrt/divide; τ-filter on the RAW cosine, round
      // only the emitted measure
      val craw = Similarity.dotQ(col("qi"), col("qj")).cast("double") /
        (sqrt(col("ni").cast("double")) * sqrt(col("nj").cast("double")))
      val flags = arrivals.join(corpusIdx, "cell")
        .withColumn("craw", craw)
        .filter(col("craw") >= SemanticTau)
        .groupBy(col("j"))
        .agg(count(lit(1)).as("n_dups"), min(col("i")).as("first_dup"),
          max(round(col("craw"), 4)).as("max_cos"))
      graft.streaming.Landing.availableNow(flags, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("j")
      .agg(max(col("n_dups")).as("n_dups"), min(col("first_dup")).as("first_dup"),
        max(col("max_cos")).as("max_cos"))
  }

  /** Landing for [[queries q_t28_streaming_semantic_hier]] — the
    * q_t12 ingest shape re-based on the TWO-LEVEL index (r15 verdict #7:
    * once hier is the batch scale path, streamed candidacy must land in
    * the same fine cells the batch index holds). The corpus trains BOTH
    * Lloyd levels batch-side and freezes them; corpus vectors sit in the
    * index at their MEMBER fine cell (top-1 fine within rank-1 coarse —
    * exactly what the batch index holds); each ARRIVING vector is served
    * against the frozen two-level geometry by the same stateless
    * broadcast kernel the batch path uses (probeAssign +
    * hierServeTagged work unchanged on a streaming frame) and probes its
    * ≤ nprobe1×nprobe2 fine cells; the flag join runs ON THE FINE-CELL
    * KEY — an arriving batch touches ~1/(k1·k2) of the corpus index,
    * k2× finer than the flat q_t12 join. A corpus member's member cell
    * is unique and an arrival's probed (cell, fcid) pairs are distinct,
    * so each (i, j) can match at most once — no distinct pass needed.
    * Oracle = the batch fine-cell pairs (fmem × qprobe under
    * corpus-frozen geometry) restricted to the drained backlog.
    */
  private[graft] val streamSemHierPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedSemanticHierFlags(s: SparkSession, dir: String): DataFrame = {
    val out = streamSemHierPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_semh_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      val em = Tables.embeddings(s, dir)
      val corpus = em.filter(col("vec_id") < SemStreamCut)
      val nCorpus = corpus.count()
      val k1 = Similarity.deriveK2(nCorpus)
      val coarse = Similarity.kmeansTrainSpread(corpus, "vec_id", "embedding",
        k = k1, iters = 2, nKnown = nCorpus)
      val corpusAss = CacheRegistry.persist(Similarity.probeAssign(
        corpus, "vec_id", "embedding", coarse.toSeq, 2))
      val fineMap = Similarity.hierFineMap(
        Similarity.hierFineCentroids(corpusAss, k2 = k1, iters2 = 2).collect())
      val corpusIdx = CacheRegistry.persist(
        Similarity.hierServeTagged(corpusAss, fineMap, 2)
          .filter(col("ism") && col("nrm") > 0.0)
          .select(col("cell"), col("id").as("i"), col("q").as("qi"),
            col("nrm").as("ni")))
      corpusIdx.count() // materialize before releasing the assign rows
      CacheRegistry.release(corpusAss)
      em.filter(col("vec_id") >= SemStreamCut)
        .select(to_json(struct(col("vec_id"), col("embedding"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val arrivals = Similarity.hierServeTagged(
          Similarity.probeAssign(decoded, "vec_id", "embedding",
            coarse.toSeq, 2), fineMap, 2)
        .filter(col("nrm") > 0.0)
        .select(col("cell"), col("id").as("j"), col("q").as("qj"),
          col("nrm").as("nj"))
      // nrm carries the correctly-rounded sqrt of the integer self-dot,
      // so ni·nj then divide is the exact oracle float shape
      val craw = Similarity.dotQ(col("qi"), col("qj")).cast("double") /
        (col("ni") * col("nj"))
      val flags = arrivals.join(corpusIdx, "cell")
        .withColumn("craw", craw)
        .filter(col("craw") >= SemanticTau)
        .groupBy(col("j"))
        .agg(count(lit(1)).as("n_dups"), min(col("i")).as("first_dup"),
          max(round(col("craw"), 4)).as("max_cos"))
      graft.streaming.Landing.availableNow(flags, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    Tables.parquet(s, out).groupBy("j")
      .agg(max(col("n_dups")).as("n_dups"), min(col("first_dup")).as("first_dup"),
        max(col("max_cos")).as("max_cos"))
  }

  /** Landing for [[queries q_t13_streaming_heavy]] — HEAVY-HITTER
    * TRACKING AT INGEST: the Misra-Gries sketch runs INSIDE the streaming
    * aggregation state (a typed-Aggregator streaming groupBy, O(cap)
    * state per language group in the state store regardless of stream
    * length), each Update-mode emission carrying the sketch-so-far plus
    * the monotone token total. The final sketch per group is the
    * emission with the max total (totals strictly increase on every
    * re-emission); its candidate set — a guaranteed superset of the
    * stream's true heavy hitters under ANY micro-batch partitioning of
    * the input (mergeable-summaries property) — then drives the same
    * exact broadcast recount as the batch operator, so streamed == batch
    * == the naive-GROUP-BY oracle, deterministically. The ingest shape a
    * 100 TB pipeline wants: the vocabulary never enters streaming state.
    */
  private val streamHeavyPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def streamedHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MisraGries
    val out = streamHeavyPaths.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_mg_").toString
      val src = s"$root/src"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
      Tables.documents(s, dir)
        .select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("value"))
        .repartition(4).write.text(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING, text STRING")
      val decoded = graft.streaming.KafkaSource.decodeJson(
        s.readStream.option("maxFilesPerTrigger", "1").text(src), schema)
      val sk = decoded
        .select(col("lang"), explode(TA.tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(MisraGries.candidates(col("token"), HeavyHitterCap).as("cands"),
          count(lit(1)).as("total"))
      graft.streaming.Landing.availableNow(sk, sink, ckpt,
        org.apache.spark.sql.streaming.OutputMode.Update)
      sink
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("total").desc)
    val fin = Tables.parquet(s, out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val cands = fin.select(col("lang"), col("total"),
      explode(col("cands")).as("token"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(TA.tokens(col("text"))).as("token"))
      .join(broadcast(cands), Seq("lang", "token"))
      .groupBy("lang", "token").agg(
        count(lit(1)).as("cnt"), first(col("total")).as("total"))
      .filter(col("cnt") * (HeavyHitterCap + 1) > col("total"))
  }

  private def sqlKmeansAssign(name: String, cents: String,
                              src: String = "em"): String =
    s"""$name AS (SELECT vec_id, q, cid, dist FROM (
       |  SELECT vec_id, q, cid, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM (SELECT e.vec_id, e.q, c.cid,
       |          CAST(list_dot_product(e.q, e.q) - 2*list_dot_product(e.q, c.q)
       |               + list_dot_product(c.q, c.q) AS BIGINT) AS dist
       |        FROM $src e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin

  /** CTE chain `em, cents0, a1, ..., cents{iters}` (no WITH, no final
    * select) — shared by the k-means query and the trained-IVF query.
    */
  private def sqlKmeansCtes(k: Int, iters: Int, dim: Int,
                            where: String = "",
                            seedSpread: Boolean = false): String = {
    def update(i: Int) =
      s"""ex$i AS (SELECT a.cid, t.i, a.q[t.i] AS v
         |        FROM a$i a, unnest(generate_series(1, $dim)) AS t(i)),
         |cs$i AS (SELECT cid, i,
         |           -- exact Math.floorDiv: DuckDB // truncates toward zero,
         |           -- so adjust negative non-exact quotients down by one
         |           -- (double floor would lose exactness as |sum| nears 2^53)
         |           CAST(CASE WHEN sum(v) >= 0 OR sum(v) % count(*) = 0
         |                THEN sum(v) // count(*)
         |                ELSE sum(v) // count(*) - 1 END AS BIGINT) AS cv
         |         FROM ex$i GROUP BY 1, 2),
         |cn$i AS (SELECT cid, list(cv ORDER BY i) AS q FROM cs$i GROUP BY cid),
         |cents$i AS (SELECT cid, q FROM cn$i
         |            UNION ALL
         |            SELECT cid, q FROM cents${i - 1}
         |            WHERE cid NOT IN (SELECT cid FROM cn$i))""".stripMargin
    val iterCtes = (1 to iters).map(i =>
      sqlKmeansAssign(s"a$i", s"cents${i - 1}") + ",\n" + update(i)).mkString(",\n")
    // seedSpread = kmeansTrainSpread's seeds: k lowest (md5Long(id), id) —
    // the engine's deterministic uniform sample; default = k lowest ids
    val seed0 =
      if (seedSpread)
        s"SELECT vec_id AS cid, q FROM em ORDER BY " +
          graft.functions.Hashing.sqlMd5Long("CAST(vec_id AS VARCHAR)") +
          s", vec_id LIMIT $k"
      else s"SELECT vec_id AS cid, q FROM em WHERE vec_id < $k"
    s"""em AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings$where),
       |cents0 AS ($seed0),
       |$iterCtes""".stripMargin
  }

  /** Per-subspace k-means chains + coded corpus for the PQ oracle
    * (mirrors Similarity.pqTrain/pqCode at the query's m/k/iters/dim):
    * each subspace s gets `em_s` (the quantized slice), `cents{0..iters}_s`
    * and `coded_s` CTEs under the same exact-integer Lloyd/assignment
    * rules as [[sqlKmeansCtes]], with `_s`-suffixed names. Built by plain
    * concatenation of individually margin-stripped fragments (the
    * double-stripMargin pipe-eating gotcha).
    */
  private def sqlPqCtes(m: Int, k: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    def assign(s: Int, name: String, cents: String) =
      s"""$name AS (SELECT vec_id, q, cid, dist FROM (
         |  SELECT vec_id, q, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (SELECT e.vec_id, e.q, c.cid, ${sqlL2("e.q", "c.q")} AS dist
         |        FROM em_$s e CROSS JOIN $cents c)) WHERE rn = 1)""".stripMargin
    def update(s: Int, i: Int) =
      s"""ex${i}_$s AS (SELECT a.cid, t.i, a.q[t.i] AS v
         |  FROM a${i}_$s a, unnest(generate_series(1, $sub)) AS t(i)),
         |cs${i}_$s AS (SELECT cid, i,
         |    CAST(CASE WHEN sum(v) >= 0 OR sum(v) % count(*) = 0
         |         THEN sum(v) // count(*)
         |         ELSE sum(v) // count(*) - 1 END AS BIGINT) AS cv
         |  FROM ex${i}_$s GROUP BY 1, 2),
         |cn${i}_$s AS (SELECT cid, list(cv ORDER BY i) AS q FROM cs${i}_$s GROUP BY cid),
         |cents${i}_$s AS (SELECT cid, q FROM cn${i}_$s
         |  UNION ALL
         |  SELECT cid, q FROM cents${i - 1}_$s
         |  WHERE cid NOT IN (SELECT cid FROM cn${i}_$s))""".stripMargin
    val per = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      val iterC = (1 to iters).map(i =>
        assign(s, s"a${i}_$s", s"cents${i - 1}_$s") + ",\n" + update(s, i))
        .mkString(",\n")
      s"em_$s AS (SELECT vec_id, q[$lo:$hi] AS q FROM emq),\n" +
        s"cents0_$s AS (SELECT vec_id AS cid, q FROM em_$s WHERE vec_id < $k),\n" +
        iterC + ",\n" +
        assign(s, s"coded_$s", s"cents${iters}_$s")
    }.mkString(",\n")
    "emq AS (SELECT vec_id,\n" +
      "  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q\n" +
      "  FROM embeddings),\n" + per
  }

  /** Exact integer squared L2 between two quantized BIGINT lists. */
  private def sqlL2(a: String, b: String): String =
    s"CAST(list_dot_product($a, $a) - 2*list_dot_product($a, $b) + list_dot_product($b, $b) AS BIGINT)"

  private def sqlKmeans(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${sqlKmeansCtes(k, iters, dim)},
       |${sqlKmeansAssign("af", s"cents$iters")}
       |SELECT cid AS cell, count(*) AS n_members,
       |  CAST(sum(vec_id) AS BIGINT) AS id_checksum,
       |  CAST(sum(dist) AS BIGINT) AS inertia
       |FROM af GROUP BY 1""".stripMargin

  /** Replay of the whole index build (tokenize → tf → df → stop-cap →
    * postings + doclen) folded per doc; sum_w pins each (tf, df) pair
    * through the integer tf-idf weight. Shared by the materialized AND
    * incremental index entries — the refresh contract is precisely that
    * both equal this from-scratch derivation. */
  private def sqlIrIndexCensus: String =
    """WITH docs AS (SELECT doc_id,
      |    text || ' topic' || CAST(doc_id % 40 AS VARCHAR)
      |         || ' topic' || CAST(doc_id % 40 AS VARCHAR)
      |         || ' ent' || CAST(doc_id % 200 AS VARCHAR) AS text
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs)
      |  GROUP BY 1, 2),
      |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |kept AS (SELECT token, df FROM dfreq
      |  WHERE df <= greatest(5.0, 0.05 * (SELECT count(*) FROM docs))),
      |census AS (SELECT t.doc_id, count(*) AS n_terms,
      |    CAST(sum(t.tf) AS BIGINT) AS kept_tf,
      |    CAST(sum(t.tf * (1000000 // k.df)) AS BIGINT) AS sum_w
      |  FROM tf t JOIN kept k USING (token) GROUP BY 1)
      |SELECT c.doc_id AS id, c.doc_id < 20 AS isq, c.n_terms, c.kept_tf,
      |  c.sum_w, l.len
      |FROM census c JOIN len l USING (doc_id)""".stripMargin

  /** Shared oracle bodies: BM25 and sparse-cosine replays over the
    * relational index build — referenced by their own entries and
    * composed by the RRF fusion oracle. */
  private def sqlBm25Oracle: String =
    """WITH docs AS (SELECT doc_id,
        |    text || ' topic' || CAST(doc_id % 40 AS VARCHAR)
        |         || ' topic' || CAST(doc_id % 40 AS VARCHAR)
        |         || ' ent' || CAST(doc_id % 200 AS VARCHAR) AS text
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs)
        |  GROUP BY 1, 2),
        |len AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n,
        |  CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM len),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |kept AS (SELECT token, df FROM dfreq
        |  WHERE df <= greatest(5.0, 0.05 * (SELECT count(*) FROM docs))),
        |post AS (SELECT t.doc_id, t.token, t.tf, k.df, l.len
        |  FROM tf t JOIN kept k USING (token) JOIN len l USING (doc_id)),
        |sc AS (SELECT q.doc_id AS qid, d.doc_id AS did,
        |    CAST(sum(CAST(floor(
        |      ln((CAST(n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
        |          / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(d.tf AS DOUBLE) * 2.2)
        |      / (CAST(d.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(d.len AS DOUBLE) / avgdl)))
        |      * 1e6) AS BIGINT)) AS BIGINT) AS sq
        |  FROM post q JOIN post d ON q.token = d.token AND q.doc_id != d.doc_id
        |  CROSS JOIN st
        |  WHERE q.doc_id < 20 GROUP BY 1, 2)
        |SELECT qid, rnk, did, round(CAST(sq AS DOUBLE) / 1e6, 4) AS bm25 FROM (
        |  SELECT qid, did, sq,
        |    row_number() OVER (PARTITION BY qid ORDER BY sq DESC, did) AS rnk
        |  FROM sc) r WHERE rnk <= 5""".stripMargin

  private def sqlSparseCosOracle: String =
    """WITH docs AS (SELECT doc_id,
        |    text || ' topic' || CAST(doc_id % 40 AS VARCHAR)
        |         || ' topic' || CAST(doc_id % 40 AS VARCHAR)
        |         || ' ent' || CAST(doc_id % 200 AS VARCHAR) AS text
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |kept AS (SELECT token, df FROM dfreq
        |  WHERE df <= greatest(5.0, 0.05 * (SELECT count(*) FROM docs))),
        |post AS (SELECT t.doc_id, t.token, t.tf * (1000000 // k.df) AS w
        |  FROM tf t JOIN kept k USING (token)),
        |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
        |  FROM post GROUP BY 1),
        |dots AS (SELECT q.doc_id AS qid, d.doc_id AS did,
        |    CAST(sum(q.w * d.w) AS BIGINT) AS dot
        |  FROM post q JOIN post d ON q.token = d.token AND q.doc_id != d.doc_id
        |  WHERE q.doc_id < 20
        |  GROUP BY 1, 2),
        |scored AS (SELECT qid, did,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE))) AS cos
        |  FROM dots JOIN norms nq ON nq.doc_id = dots.qid
        |  JOIN norms nd ON nd.doc_id = dots.did)
        |SELECT qid, rnk, did, round(cos, 4) AS cos FROM (
        |  SELECT qid, did, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rnk
        |  FROM scored) r WHERE rnk <= 5""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_txt_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, $sqlWithPii AS t2 FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t2, '$emailSql')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t2, '$ipSql')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t2, '$phoneSql')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(
         |        regexp_replace(
         |          regexp_replace(t2, '$emailSql', '<EMAIL>', 'g'),
         |          '$phoneSql', '<PHONE>', 'g'),
         |        '$ipSql', '<IP>', 'g')) AS scrub_fp
         |FROM p""".stripMargin,

    "q_txt_repetition" ->
      s"""WITH $sqlRepCtes
         |SELECT doc_id, n2, top2, n5, d5 FROM rep""".stripMargin,

    "q_curation_gopher" ->
      s"""WITH $sqlRepCtes,
         |feat AS (SELECT d.source, r.n2, r.top2, r.n5, r.d5,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(string_split(d.text, ' '), t -> len(t))) AS BIGINT) AS sumlen,
         |    CAST(len(list_filter(string_split(d.text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS nstop
         |  FROM documents d JOIN rep r ON d.doc_id = r.doc_id),
         |flags AS (SELECT source,
         |    NOT (n >= 20 AND n <= 1000) AS fail_len,
         |    NOT (sumlen >= n * 2 AND sumlen <= n * 10) AS fail_wordlen,
         |    nstop = 0 AS fail_stop,
         |    (n5 - d5) * 2 > n5 AS fail_rep,
         |    top2 * 10 > n2 * 3 AS fail_top
         |  FROM feat)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT fail_len AND NOT fail_wordlen AND NOT fail_stop
         |                 AND NOT fail_rep AND NOT fail_top THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN fail_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
         |  CAST(sum(CASE WHEN fail_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
         |  CAST(sum(CASE WHEN fail_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
         |  CAST(sum(CASE WHEN fail_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep,
         |  CAST(sum(CASE WHEN fail_top THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top
         |FROM flags GROUP BY 1""".stripMargin,

    "q_curation_funnel" ->
      s"""WITH $sqlRepCtes,
         |feat AS (SELECT d.source, r.n2, r.top2, r.n5, r.d5,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(string_split(d.text, ' '), t -> len(t))) AS BIGINT) AS sumlen,
         |    CAST(len(list_filter(string_split(d.text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS nstop
         |  FROM documents d JOIN rep r ON d.doc_id = r.doc_id),
         |flags AS (SELECT
         |    NOT (n >= 20 AND n <= 1000) AS fail_len,
         |    NOT (sumlen >= n * 2 AND sumlen <= n * 10) AS fail_wordlen,
         |    nstop = 0 AS fail_stop,
         |    (n5 - d5) * 2 > n5 AS fail_rep,
         |    top2 * 10 > n2 * 3 AS fail_top
         |  FROM feat),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |  CAST(sum(CASE WHEN NOT fail_len THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |  CAST(sum(CASE WHEN NOT fail_len AND NOT fail_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |  CAST(sum(CASE WHEN NOT fail_len AND NOT fail_wordlen AND NOT fail_stop
         |            THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |  CAST(sum(CASE WHEN NOT fail_len AND NOT fail_wordlen AND NOT fail_stop
         |            AND NOT fail_rep THEN 1 ELSE 0 END) AS BIGINT) AS s4,
         |  CAST(sum(CASE WHEN NOT fail_len AND NOT fail_wordlen AND NOT fail_stop
         |            AND NOT fail_rep AND NOT fail_top THEN 1 ELSE 0 END) AS BIGINT) AS s5
         |  FROM flags)
         |SELECT CAST(1 AS BIGINT) AS stage, 'len' AS gate, n0 AS entered,
         |       s1 AS survived, n0 - s1 AS rejected FROM s
         |UNION ALL SELECT 2, 'wordlen', s1, s2, s1 - s2 FROM s
         |UNION ALL SELECT 3, 'stop', s2, s3, s2 - s3 FROM s
         |UNION ALL SELECT 4, 'rep', s3, s4, s3 - s4 FROM s
         |UNION ALL SELECT 5, 'top', s4, s5, s4 - s5 FROM s""".stripMargin,

    "q_mix_token_budget" -> {
      val values = TokenBudgets.toSeq.sortBy(_._1)
        .map { case (g, b) => s"(CAST($g AS BIGINT), CAST($b AS BIGINT))" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id,
         |    CAST(substring(source, 4) AS BIGINT) % 4 AS grp,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${Sampling.sqlHashBucket("doc_id", 16, "tb")} AS b
         |  FROM documents),
         |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY grp ORDER BY b, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t),
         |bud AS (SELECT * FROM (VALUES $values) AS v(grp, budget))
         |SELECT grp, count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c JOIN bud USING (grp) WHERE cum <= budget GROUP BY 1""".stripMargin
    },

    "q_sample_fixed_n" -> {
      val values = FixedNTargets.toSeq.sortBy(_._1)
        .map { case (g, n) => s"(CAST($g AS BIGINT), CAST($n AS BIGINT))" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id,
         |    CAST(substring(source, 4) AS BIGINT) % 4 AS grp,
         |    ${Sampling.sqlHashBucket("doc_id", 16, "fn")} AS b
         |  FROM documents),
         |c AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY b, doc_id) AS rn
         |  FROM t),
         |tgt AS (SELECT * FROM (VALUES $values) AS v(grp, n))
         |SELECT grp, count(*) AS n_kept,
         |  md5(array_to_string(list_sort(list(doc_id)), ',')) AS ids_fp
         |FROM c JOIN tgt USING (grp) WHERE rn <= n GROUP BY 1""".stripMargin
    },

    "q_sample_split" ->
      s"""SELECT ${Sampling.sqlSplit("doc_id")} AS split, lang,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ${Sampling.sqlSamplePermille("doc_id", 500)} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "q_sample_stratified" -> {
      val b = Sampling.sqlHashBucket("doc_id", 1000, "s")
      val keep = StratRates.toSeq.sortBy(_._1).foldRight("TRUE") {
        case ((lang, permille), els) =>
          s"CASE WHEN lang = '$lang' THEN $b < $permille ELSE $els END"
      }
      s"""SELECT lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN $keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY 1""".stripMargin
    },

    "q_mix_temperature" ->
      s"""WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |w AS (SELECT lang, n,
         |  CAST(floor(1e6 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wq FROM counts),
         |tot AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum,
         |  CAST(sum(n) AS BIGINT) // 2 AS t FROM w),
         |rates AS (SELECT lang, least(1000000,
         |    CAST(floor(1e6 * CAST(t AS DOUBLE) * CAST(wq AS DOUBLE)
         |      / CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)) AS rate
         |  FROM w, tot)
         |SELECT d.lang, count(*) AS n_kept,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(rate) AS rate_ppm
         |FROM documents d JOIN rates USING (lang)
         |WHERE ${Sampling.sqlHashBucket("doc_id", 1000000, "temp")} < rate
         |GROUP BY 1""".stripMargin,

    "q_mix_reweight" -> {
      val values = MixTargets.toSeq.sortBy(_._1)
        .map { case (g, f) => s"($g, $f)" }.mkString(", ")
      s"""WITH d AS (SELECT *, CAST(substring(source, 4) AS BIGINT) % 4 AS grp
         |  FROM documents),
         |counts AS (SELECT grp, count(*) AS n FROM d GROUP BY 1),
         |tgt AS (SELECT * FROM (VALUES $values) AS t(grp, f)),
         |tt AS (SELECT min(n * 1000 // f) AS t FROM counts JOIN tgt USING (grp)),
         |rates AS (SELECT grp, (f * t) // n AS rate
         |  FROM counts JOIN tgt USING (grp), tt)
         |SELECT d.grp, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM d JOIN rates USING (grp)
         |WHERE ${Sampling.sqlHashBucket("doc_id", 1000, "mix")} < rate
         |GROUP BY 1""".stripMargin
    },

    "q_mix_epochs" -> {
      val values = EpochTargets.toSeq.sortBy(_._1)
        .map { case (g, f) => s"($g, $f)" }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, n_chars,
         |    CAST(substring(source, 4) AS BIGINT) % 4 AS grp FROM documents),
         |tgt AS (SELECT * FROM (VALUES $values) AS t(grp, f)),
         |c AS (SELECT doc_id, n_chars, d.grp,
         |    f // 1000 + CASE WHEN ${Sampling.sqlHashBucket("doc_id", 1000, "ep")}
         |      < f % 1000 THEN 1 ELSE 0 END AS nc
         |  FROM d JOIN tgt USING (grp)),
         |r AS (SELECT grp, doc_id, n_chars
         |  FROM c, unnest(generate_series(1, CAST(nc AS BIGINT))))
         |SELECT grp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_rows,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM r GROUP BY 1""".stripMargin
    },

    "q_feat_hashing" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    ${Hashing.sqlMd5LongSeeded("token", 101)} % 64 AS bucket,
         |    CASE WHEN ${Hashing.sqlMd5LongSeeded("token", 202)} % 2 = 0
         |      THEN 1 ELSE -1 END AS sign
         |  FROM t)
         |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v
         |FROM h GROUP BY 1, 2 HAVING sum(sign) <> 0""".stripMargin,

    "q_curation_classifier" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    ${Hashing.sqlMd5LongSeeded("token", 101)} % 64 AS bucket,
         |    CASE WHEN ${Hashing.sqlMd5LongSeeded("token", 202)} % 2 = 0
         |      THEN 1 ELSE -1 END AS sign
         |  FROM t),
         |f AS (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS v
         |  FROM h GROUP BY 1, 2),
         |s AS (SELECT doc_id, CAST(sum(v *
         |    (${Hashing.sqlMd5Long("'w#' || CAST(bucket AS VARCHAR)")} % 2001
         |      - 1000)) AS BIGINT) AS logit_u
         |  FROM f GROUP BY 1)
         |SELECT doc_id, logit_u, logit_u > 0 AS kept FROM s""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |p AS (SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) - n_tokens AS st
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(floor(CAST(st AS DOUBLE) / 512) AS BIGINT) AS bin,
        |  st % 512 AS offset
        |FROM p""".stripMargin,

    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        |       FROM toks, unnest(generate_series(1, len(toks)-4)) AS t(i)),
        |b AS (SELECT DISTINCT shingle FROM sh JOIN documents USING (doc_id)
        |      WHERE source = 'src0')
        |SELECT sh.doc_id, count(*) AS n_overlap
        |FROM sh JOIN documents d USING (doc_id) JOIN b USING (shingle)
        |WHERE d.source <> 'src0'
        |GROUP BY 1 HAVING count(*) >= 3""".stripMargin,

    "q_decontaminate" -> sqlDecontaminate,

    "q_t11_streaming_decon" -> sqlDecontaminate,

    "q_emb_quantize_int8" ->
      """WITH m AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(embedding,
        |              x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT))
        |  END AS q8 FROM m)
        |SELECT vec_id, list_min(q8) AS qmin, list_max(q8) AS qmax,
        |  CAST(list_sum(q8) AS BIGINT) AS qsum,
        |  CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT) AS qnorm
        |FROM q""".stripMargin,

    "q_emb_kmeans" -> sqlKmeans(k = 8, iters = 2, dim = 64),

    // k=8 here IS Similarity.deriveK(500) at the 500-vector verify
    // fixture; the Scala side derives k from the corpus count at runtime.
    // SemanticDedupSpec pins the equality so a fixture-size drift fails
    // loudly there instead of hash-mismatching here. Cells at the fixture
    // are far below DefaultMaxCell, so the uncapped all-pairs SQL below
    // still matches the capped Scala plan exactly.
    "q_dedup_semantic" ->
      s"""WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64)},
         |${sqlKmeansAssign("af", "cents2")},
         |m AS (SELECT vec_id AS id, q, cid AS cell FROM af),
         |p AS (SELECT a.id AS i, b.id AS j,
         |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
         |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
         |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS c
         |  FROM m a JOIN m b ON a.cell = b.cell AND a.id < b.id
         |  WHERE list_dot_product(a.q, a.q) > 0
         |    AND list_dot_product(b.q, b.q) > 0)
         |SELECT i, j, round(c, 4) AS cos FROM p WHERE c >= $SemanticTau""".stripMargin,

    "q_dedup_semantic_probe2" ->
      s"""WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64)},
         |m AS (SELECT vec_id AS id, q, cid AS cell FROM (
         |  SELECT vec_id, q, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (SELECT e.vec_id, e.q, c.cid,
         |          CAST(list_dot_product(e.q, e.q) - 2*list_dot_product(e.q, c.q)
         |               + list_dot_product(c.q, c.q) AS BIGINT) AS dist
         |        FROM em e CROSS JOIN cents2 c)) WHERE rn <= 2),
         |p AS (SELECT DISTINCT a.id AS i, b.id AS j,
         |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
         |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
         |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS c
         |  FROM m a JOIN m b ON a.cell = b.cell AND a.id < b.id
         |  WHERE list_dot_product(a.q, a.q) > 0
         |    AND list_dot_product(b.q, b.q) > 0)
         |SELECT i, j, round(c, 4) AS cos FROM p WHERE c >= $SemanticTau""".stripMargin,

    // streaming IVF maintenance == the batch k-means assignment aggregate
    "q_t10_streaming_ivf" -> sqlKmeans(k = 8, iters = 2, dim = 64),

    // streaming semantic dedup == the batch cell-join over the full
    // drained backlog: cells trained on the corpus half only (WHERE on
    // the em CTE), every vector assigned via the same argmin, arrivals
    // joined to corpus members on the cell key, τ on the raw cosine.
    "q_t12_streaming_semantic" ->
      s"""WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64,
             where = s" WHERE vec_id < $SemStreamCut")},
         |ema AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |${sqlKmeansAssign("af", "cents2", src = "ema")},
         |corpus AS (SELECT vec_id AS i, q AS qi, cid AS cell FROM af
         |           WHERE vec_id < $SemStreamCut AND list_dot_product(q, q) > 0),
         |arr AS (SELECT vec_id AS j, q AS qj, cid AS cell FROM af
         |        WHERE vec_id >= $SemStreamCut AND list_dot_product(q, q) > 0),
         |p AS (SELECT arr.j, corpus.i,
         |    CAST(list_dot_product(qi, qj) AS DOUBLE) /
         |      (sqrt(CAST(list_dot_product(qi, qi) AS DOUBLE)) *
         |       sqrt(CAST(list_dot_product(qj, qj) AS DOUBLE))) AS craw
         |  FROM arr JOIN corpus USING (cell))
         |SELECT j, count(*) AS n_dups, min(i) AS first_dup,
         |  max(round(craw, 4)) AS max_cos
         |FROM p WHERE craw >= $SemanticTau GROUP BY 1""".stripMargin,

    // streamed arrivals served against the corpus-frozen TWO-LEVEL
    // geometry == the batch fmem × qprobe fine-cell pairs over the
    // drained backlog (corpus members at their member fine cell,
    // arrivals at their ≤ np1×np2 probed fine cells)
    "q_t28_streaming_semantic_hier" -> {
      val cos = "(list_dot_product(a.q, b.q) / " +
        "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
      s"""WITH ${sqlIvf2Ctes(k1 = 3, k2 = 3, np1 = 2, np2 = 2, iters2 = 2,
            dim = 64, trainPred = s"vec_id < $SemStreamCut")},
         |scored AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j, $cos AS cos
         |  FROM ema a JOIN fmem fm ON fm.vec_id = a.vec_id,
         |       ema b JOIN qprobe qp ON qp.vec_id = b.vec_id
         |  WHERE a.vec_id < $SemStreamCut AND b.vec_id >= $SemStreamCut
         |    AND fm.cell = qp.cell AND fm.fcid = qp.fcid
         |    AND list_dot_product(a.q, a.q) > 0
         |    AND list_dot_product(b.q, b.q) > 0)
         |SELECT j, count(*) AS n_dups, min(i) AS first_dup,
         |  max(round(cos, 4)) AS max_cos
         |FROM scored WHERE cos >= $SemanticTau GROUP BY 1""".stripMargin
    },

    // streaming MG sketch + exact recount == the batch heavy hitters
    // (same oracle text as q_agg_heavy_hitters: the candidate superset
    // guarantee holds under any micro-batch split, and the recount +
    // threshold make the result exactly the naive GROUP BY)
    "q_t13_streaming_heavy" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT lang, count(*) AS total FROM t GROUP BY 1)
        |SELECT t.lang, t.token, count(*) AS cnt, any_value(tot.total) AS total
        |FROM t JOIN tot ON t.lang = tot.lang
        |GROUP BY 1, 2
        |HAVING count(*) * 65 > any_value(tot.total)""".stripMargin,

    "q_sim_ivf_trained" -> {
      val cos = "(list_dot_product(a.q, b.q) / " +
        "(sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))))"
      s"""WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64)},
         |cents AS (SELECT cid, q AS qc FROM cents2),
         |cassign AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.q, c.qc) /
         |        (sqrt(list_dot_product(e.q, e.q)) * sqrt(list_dot_product(c.qc, c.qc))) DESC,
         |        c.cid) AS rk
         |  FROM em e, cents c),
         |cells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk = 1),
         |qcells AS (SELECT vec_id, cid AS cell FROM cassign WHERE rk <= 2),
         |scored AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id, $cos AS cos
         |  FROM em a JOIN cells ca ON ca.vec_id = a.vec_id,
         |       em b JOIN qcells cb ON cb.vec_id = b.vec_id
         |  WHERE b.vec_id < 20 AND a.vec_id <> b.vec_id AND ca.cell = cb.cell)
         |SELECT query_id, rnk, cand_id, round(cos, 4) AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM scored) r
         |WHERE rnk <= 5""".stripMargin
    },

    // same CTE chain as q_sim_ivf_trained with the query restriction
    // dropped: every vector ranks its probed-cell candidates
    "q_sim_knn_graph" -> sqlKnnGraph,
    "q_sim_ivf2" -> sqlIvf2(k1 = 3, k2 = 3, np1 = 2, np2 = 2,
      iters2 = 2, dim = 64, k = 3),
    // per-shard k1/k2 = deriveK2(250) = 2 (two 250-vector shards at
    // sf0.01); both shards' chains replay inside their own WITH scopes
    "q_sim_ivf2_sharded" -> sqlIvf2Sharded(nShards = 2, k1 = 2, k2 = 2,
      np1 = 2, np2 = 2, iters2 = 2, dim = 64, k = 3),
    "q_dedup_semantic_hier" -> sqlSemanticHier(k1 = 3, k2 = 3, np1 = 2,
      np2 = 2, iters2 = 2, dim = 64, tau = SemanticTau),
    "q_dedup_semantic_clusters" -> sqlSemanticClusters(k1 = 3, k2 = 3,
      np1 = 2, np2 = 2, iters2 = 2, dim = 64, tau = SemanticTau),

    // one-hop majority vote over the replayed kNN edges; tie-break
    // (cnt desc, label) identical on both engines
    "q_graph_knn_classify" ->
      ("""WITH g AS (SELECT * FROM (""" + sqlKnnGraph + """) t),
        |e AS (SELECT DISTINCT least(query_id, cand_id) AS a,
        |    greatest(query_id, cand_id) AS b
        |  FROM g WHERE query_id <> cand_id),
        |syme AS (SELECT a AS node, b AS nb FROM e
        |         UNION ALL SELECT b, a FROM e),
        |emx AS (SELECT CAST(vec_id AS BIGINT) AS id,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |votes AS (SELECT s.node, m.label AS nb_label, count(*) AS cnt
        |  FROM syme s JOIN emx m ON m.id = s.nb AND m.id % 5 <> 0
        |  GROUP BY 1, 2),
        |pred AS (SELECT node, nb_label AS pred FROM (
        |  SELECT *, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, nb_label) AS rn FROM votes) v
        |  WHERE rn = 1)
        |SELECT t.label AS true_label,
        |  CAST(COALESCE(p.pred, -1) AS BIGINT) AS pred_label,
        |  count(*) AS n
        |FROM emx t LEFT JOIN pred p ON p.node = t.id
        |WHERE t.id % 5 = 0 GROUP BY 1, 2""".stripMargin),

    // two aggregates over the replayed edge set
    "q_graph_degree_hist" ->
      ("""WITH g AS (SELECT * FROM (""" + sqlKnnGraph + """) t),
        |e AS (SELECT DISTINCT least(query_id, cand_id) AS a,
        |    greatest(query_id, cand_id) AS b
        |  FROM g WHERE query_id <> cand_id),
        |d AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) s GROUP BY 1)
        |SELECT deg, count(*) AS n_nodes, min(node) AS min_node
        |FROM d GROUP BY 1""".stripMargin),

    // components as the transitive closure of the undirected kNN edges
    // (the q_dedup_clusters reach pattern over the knn-edge derivation)
    "q_graph_cc" ->
      ("""WITH RECURSIVE g AS (SELECT * FROM (""" + sqlKnnGraph + """) t),
        |e AS (SELECT DISTINCT least(query_id, cand_id) AS a,
        |    greatest(query_id, cand_id) AS b
        |  FROM g WHERE query_id <> cand_id),
        |syme AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(a, b) AS (
        |  SELECT a, b FROM syme
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN syme s ON r.b = s.a),
        |lab AS (SELECT a, least(a, min(b)) AS cluster FROM reach GROUP BY a)
        |SELECT cluster, count(*) AS n_nodes, max(a) AS max_node
        |FROM lab GROUP BY 1""".stripMargin),

    // the artifact IS the undirected distinct fold of the full kNN
    // derivation — same CTE chain as q_sim_knn_graph, edges only
    "q_knn_edges_materialized" ->
      ("""WITH g AS (SELECT * FROM (""" + sqlKnnGraph + """) t)
        |SELECT DISTINCT least(query_id, cand_id) AS a,
        |    greatest(query_id, cand_id) AS b
        |  FROM g WHERE query_id <> cand_id""".stripMargin),

    // the refreshed store == the full rebuild under base-trained cells
    "q_knn_edges_incremental" -> sqlKnnGraphInc,
    // the refreshed TWO-LEVEL store == the full hier rebuild under
    // base-trained coarse + fine centroids
    "q_knn_edges_incremental_hier" -> sqlIvf2Inc(k1 = 3, k2 = 3,
      np1 = 2, np2 = 2, iters2 = 2, dim = 64, k = 3),

    // edges = the undirected kNN pairs (the q_sim_knn_graph oracle as a
    // derived table), then the a<b<c wedge-close join
    "q_graph_triangles" ->
      ("""WITH g AS (SELECT * FROM (""" + sqlKnnGraph + """) t),
        |e AS (SELECT DISTINCT least(query_id, cand_id) AS a,
        |    greatest(query_id, cand_id) AS b
        |  FROM g WHERE query_id <> cand_id),
        |w AS (SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b),
        |tri AS (SELECT w.* FROM w JOIN e e3 ON e3.a = w.a AND e3.b = w.c)
        |SELECT (SELECT count(*) FROM tri) AS n_triangles,
        |  (SELECT count(*) FROM e) AS n_edges""".stripMargin),

    // mirrors pqTrain (4 subspace Lloyd chains) + pqCode (integer-L2
    // argmin, ties to lowest cid) + pqSearchTopK (ADC = sum of the four
    // subspace L2s against the assigned codewords; rank by adc, cand_id,
    // self excluded before ranking)
    "q_sim_pq" -> {
      val contribs = (0 until 4).map(s =>
        s"""SELECT qv.vec_id AS query_id, cd.vec_id AS cand_id,
           |    ${sqlL2("qv.q", "c.q")} AS d
           |  FROM em_$s qv CROSS JOIN coded_$s cd
           |  JOIN cents2_$s c ON cd.cid = c.cid
           |  WHERE qv.vec_id < 20""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"WITH ${sqlPqCtes(m = 4, k = 16, iters = 2, dim = 64)},\n" +
        s"contrib AS (\n  $contribs),\n" +
        "adc AS (SELECT query_id, cand_id, CAST(sum(d) AS BIGINT) AS adc\n" +
        "  FROM contrib GROUP BY 1, 2),\n" +
        "ranked AS (SELECT query_id, cand_id, adc,\n" +
        "    row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rnk\n" +
        "  FROM adc WHERE cand_id != query_id)\n" +
        "SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, adc\n" +
        "FROM ranked WHERE rnk <= 5"
    },

    // mirrors ivfPqTopK: the full-dim kmeans chain (L2 cells, af = final
    // assignment), qprobe = each query's 2 nearest cells (L2, ties to
    // lowest cid), candidates = probed-cell members minus self, scored by
    // the SAME PQ ADC chain as q_sim_pq
    "q_sim_ivfpq" -> {
      val contribs = (0 until 4).map(s =>
        s"""SELECT c.query_id, c.cand_id, ${sqlL2("qv.q", "cw.q")} AS d
           |  FROM cand c
           |  JOIN em_$s qv ON qv.vec_id = c.query_id
           |  JOIN coded_$s cd ON cd.vec_id = c.cand_id
           |  JOIN cents2_$s cw ON cw.cid = cd.cid""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"WITH ${sqlKmeansCtes(k = 8, iters = 2, dim = 64)},\n" +
        sqlKmeansAssign("af", "cents2") + ",\n" +
        s"${sqlPqCtes(m = 4, k = 16, iters = 2, dim = 64)},\n" +
        "qprobe AS (SELECT vec_id, cid FROM (\n" +
        "  SELECT e.vec_id, c.cid,\n" +
        s"    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlL2("e.q", "c.q")}, c.cid) AS rn\n" +
        "  FROM em e CROSS JOIN cents2 c WHERE e.vec_id < 20) WHERE rn <= 2),\n" +
        "cand AS (SELECT qp.vec_id AS query_id, af.vec_id AS cand_id\n" +
        "  FROM af JOIN qprobe qp ON af.cid = qp.cid\n" +
        "  WHERE af.vec_id != qp.vec_id),\n" +
        s"contrib AS (\n  $contribs),\n" +
        "adc AS (SELECT query_id, cand_id, CAST(sum(d) AS BIGINT) AS adc\n" +
        "  FROM contrib GROUP BY 1, 2),\n" +
        "ranked AS (SELECT query_id, cand_id, adc,\n" +
        "    row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rnk\n" +
        "  FROM adc)\n" +
        "SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, adc\n" +
        "FROM ranked WHERE rnk <= 5"
    },

    "q_union_ragged" ->
      """WITH u AS (
        |  SELECT doc_id, lang FROM documents
        |  UNION ALL BY NAME
        |  SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 0)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM u GROUP BY 1""".stripMargin,

    "q_chunk_passages" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks
        |              FROM documents WHERE len(text) > 0),
        |st AS (SELECT doc_id, toks, t.s
        |       FROM toks, unnest(generate_series(0, greatest(0, len(toks) - 16 - 1), 48)) AS t(s))
        |SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx,
        |  CAST(len(toks[s+1 : s+64]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(toks[s+1 : s+64], ' ')) AS fp
        |FROM st""".stripMargin,

    "q_graph_clustering_coef" ->
      ("""WITH g AS (SELECT * FROM (""" + sqlKnnGraph + """) t),
        |e AS (SELECT DISTINCT least(query_id, cand_id) AS a,
        |    greatest(query_id, cand_id) AS b
        |  FROM g WHERE query_id <> cand_id),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT w.a, w.b, w.c FROM
        |    (SELECT e1.a, e1.b, e2.b AS c
        |     FROM e e1 JOIN e e2 ON e2.a = e1.b) w
        |  JOIN e e3 ON e3.a = w.a AND e3.b = w.c),
        |tpn AS (SELECT node, count(*) AS tri FROM (
        |    SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
        |    UNION ALL SELECT c AS node FROM tri)
        |  GROUP BY 1)
        |SELECT node, deg, tri, coef FROM (
        |  SELECT deg.node, deg, CAST(tri AS BIGINT) AS tri,
        |    round(2.0 * CAST(tri AS DOUBLE)
        |      / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0)), 4) AS coef
        |  FROM deg JOIN tpn ON tpn.node = deg.node
        |  WHERE deg >= 2) x
        |ORDER BY coef DESC, node LIMIT 20""".stripMargin),

    "q_txt_pmi" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
        |df AS (SELECT token, count(*) AS cx FROM dt GROUP BY 1
        |  HAVING count(*) >= 5),
        |k AS (SELECT dt.doc_id, dt.token, cx FROM dt JOIN df USING (token)),
        |p AS (SELECT a.token AS x, b.token AS y, a.cx AS cxa, b.cx AS cyb,
        |    count(*) AS cxy
        |  FROM k a JOIN k b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2, 3, 4),
        |n AS (SELECT count(*) AS nd FROM documents)
        |SELECT x, y, cxy, pmi FROM (
        |  SELECT x, y, CAST(cxy AS BIGINT) AS cxy,
        |    round(ln(CAST(cxy AS DOUBLE) * CAST(nd AS DOUBLE)
        |      / (CAST(cxa AS DOUBLE) * CAST(cyb AS DOUBLE))), 6) + 0.0 AS pmi
        |  FROM p, n) t
        |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin,

    // replay of the whole index build (tokenize → tf → df → stop-cap →
    // postings + doclen) folded per doc; sum_w pins each (tf, df) pair
    // through the integer tf-idf weight
    "q_ir_index_materialized" ->
      sqlIrIndexCensus,

    // incremental store == full rebuild on (base + delta): the SAME
    // census replay as q_ir_index_materialized — the whole point of the
    // refresh contract (tf/doclen appends + additive bucket-pruned df +
    // view-time stop-cap reproduce the from-scratch build exactly)
    "q_ir_index_incremental" ->
      sqlIrIndexCensus,

    "q_sim_bm25" ->
      sqlBm25Oracle,

    "q_sim_sparse_cosine" ->
      sqlSparseCosOracle,

    // fusion of the two ranker oracles by rank — integer RRF
    // contributions, absent ranks contribute 0 through the FULL JOIN
    "q_sim_rrf_hybrid" ->
      ("WITH b AS (SELECT * FROM (" + sqlBm25Oracle + ") tb),\n" +
        "c AS (SELECT * FROM (" + sqlSparseCosOracle + ") tc),\n" +
        """f AS (SELECT COALESCE(b.qid, c.qid) AS qid,
          |    COALESCE(b.did, c.did) AS did,
          |    COALESCE(1000000 // (60 + b.rnk), 0)
          |      + COALESCE(1000000 // (60 + c.rnk), 0) AS rrf_u
          |  FROM b FULL JOIN c ON b.qid = c.qid AND b.did = c.did)
          |SELECT qid, rnk, did, CAST(rrf_u AS BIGINT) AS rrf_u FROM (
          |  SELECT *, row_number() OVER (PARTITION BY qid
          |      ORDER BY rrf_u DESC, did) AS rnk FROM f) r
          |WHERE rnk <= 3""".stripMargin),

    "q_txt_tfidf" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT t.doc_id, t.token,
        |    CAST((t.tf * 1000000) // d.df AS BIGINT) AS score
        |  FROM tf t JOIN dfreq d USING (token))
        |SELECT doc_id, token, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored) r
        |WHERE rn = 1""".stripMargin,

    "q_vocab_topk" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin,

    "q_sample_weighted" -> {
      import graft.ops.Sampling
      s"""WITH d AS (SELECT source, doc_id, n_chars,
         |    ${Sampling.sqlPriority("CAST(doc_id AS VARCHAR)", "n_chars")} AS priority
         |  FROM documents)
         |SELECT source, doc_id, n_chars, priority FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rn
         |  FROM d) WHERE rn <= 20""".stripMargin
    },

    "q_join_fuzzy" -> {
      import graft.ops.Fuzzy
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ')[1] AS term0 FROM documents),
         |terms AS (SELECT term, count(*) AS n_docs FROM (
         |    SELECT CASE WHEN doc_id % 3 = 1 THEN term0 || 'x'
         |                WHEN doc_id % 3 = 2 THEN substring(term0, 1, len(term0) - 1)
         |                ELSE term0 END AS term FROM t0) GROUP BY 1),
         |vocab AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1),
         |tsig AS (SELECT DISTINCT term, n_docs, ${Fuzzy.sqlDeletionSig("term")} AS sig
         |  FROM terms, unnest(generate_series(0, len(term))) AS g(i)),
         |vsig AS (SELECT DISTINCT word, cnt, ${Fuzzy.sqlDeletionSig("word")} AS sig
         |  FROM vocab, unnest(generate_series(0, len(word))) AS g(i))
         |SELECT DISTINCT term, n_docs, word, cnt
         |FROM tsig JOIN vsig USING (sig)
         |WHERE levenshtein(term, word) <= 1 AND term <> word""".stripMargin
    },

    // the sketch+recount output equals the naive full-vocabulary GROUP BY
    // (Misra-Gries candidates are a guaranteed superset; the exact recount
    // and threshold filter remove every false positive)
    // mirrors CountMin: bucket(token, s) = md5Long(token || '#' || s) % 64
    // (the seeded-hash contract of Hashing.sqlMd5LongSeeded with a runtime
    // seed column); regs holds only non-empty registers, which is enough —
    // a top-20 token's own count occupies all four of its registers.
    "q_join_size_cms" ->
      """WITH ka AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
        |kb AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
        |ra AS (SELECT sd.s,
        |    ('0x' || substring(md5(k || '#' || CAST(sd.s AS VARCHAR)), 1, 15))::BIGINT % 8192 AS b,
        |    count(*) AS c
        |  FROM ka CROSS JOIN generate_series(0, 3) AS sd(s) GROUP BY 1, 2),
        |rb AS (SELECT sd.s,
        |    ('0x' || substring(md5(k || '#' || CAST(sd.s AS VARCHAR)), 1, 15))::BIGINT % 8192 AS b,
        |    count(*) AS c
        |  FROM kb CROSS JOIN generate_series(0, 3) AS sd(s) GROUP BY 1, 2),
        |ip AS (SELECT ra.s, CAST(sum(ra.c * rb.c) AS BIGINT) AS dot
        |  FROM ra JOIN rb ON ra.s = rb.s AND ra.b = rb.b GROUP BY 1),
        |ex AS (SELECT count(*) AS exact FROM ka JOIN kb USING (k))
        |SELECT exact, (SELECT min(dot) FROM ip) AS cms_est FROM ex""".stripMargin,

    "q_agg_countmin" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |regs AS (
        |  SELECT sd.s,
        |    ('0x' || substring(md5(t.token || '#' || CAST(sd.s AS VARCHAR)), 1, 15))::BIGINT % 64 AS b,
        |    count(*) AS c
        |  FROM toks t CROSS JOIN generate_series(0, 3) AS sd(s)
        |  GROUP BY 1, 2),
        |top AS (SELECT token, count(*) AS exact_n FROM toks
        |  GROUP BY 1 ORDER BY exact_n DESC, token LIMIT 20)
        |SELECT t.token, t.exact_n, min(r.c) AS cms_est
        |FROM top t JOIN regs r
        |  ON r.b = ('0x' || substring(md5(t.token || '#' || CAST(r.s AS VARCHAR)), 1, 15))::BIGINT % 64
        |GROUP BY 1, 2""".stripMargin,

    // streamed CMS == the batch sketch's register table
    "q_t14_streaming_countmin" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT sd.s,
        |  ('0x' || substring(md5(t.token || '#' || CAST(sd.s AS VARCHAR)), 1, 15))::BIGINT % 64 AS b,
        |  count(*) AS c
        |FROM toks t CROSS JOIN generate_series(0, 3) AS sd(s)
        |GROUP BY 1, 2""".stripMargin,

    "q_agg_heavy_hitters" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT lang, count(*) AS total FROM t GROUP BY 1)
        |SELECT t.lang, t.token, count(*) AS cnt, any_value(tot.total) AS total
        |FROM t JOIN tot ON t.lang = tot.lang
        |GROUP BY 1, 2
        |HAVING count(*) * 65 > any_value(tot.total)""".stripMargin
  )
}
