package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Incremental maintenance for the materialize-once artifacts — the
  * r10 artifacts (kNN edge set, inverted index) were build-once,
  * full-rebuild-on-change, and the BUILD is the expensive part (the only
  * 40 s+ SCALE row). These stores apply the `q_dedup_incremental`
  * delta-vs-corpus pattern to the artifacts themselves: a new batch
  * probes the existing structure, only the touched partitions rewrite,
  * untouched partitions stay byte-identical on disk (the
  * `Rollup.refreshAdditive` discipline), and the refreshed store equals
  * a full rebuild on (corpus + delta) exactly — the DuckDB oracles
  * replay the full rebuild. Reference analog: the pipeline's whole point
  * is incremental landings (etl.py:32-45 batches into an additive
  * store); these are the index-side equivalents.
  *
  * Scale posture: per refresh the work is O(delta + touched cells /
  * buckets), never O(store). Centroids/vocabulary metadata are
  * config-scale; everything heavy is partition-pruned parquet IO plus
  * one bounded scoring pass.
  */
object IncrementalIndex {

  private def hasData(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
    graft.streaming.UpsertSink.hasDataFile(fs, p)

  /** IVF-cell kNN-graph store. Layout under `root`:
    *  - `centroids/` (cid, q): the snapshot-trained k-means cells —
    *    FROZEN at build (the IVF discipline: cells define the index;
    *    retraining is a rebuild, not a refresh);
    *  - `assign/` partitioned by `cell`: multi-probe rows (rk, id, q,
    *    nrm) — rank 1 is membership, ranks ≤ nprobe are the probe list;
    *  - `edges/` partitioned by `pcell` (the query's rank-1 cell):
    *    (query_id, rnk, cand_id, cos) — the consumer-facing kNN graph.
    *
    * Refresh contract (proved by the oracle): after `refresh(delta)` the
    * edge table equals `Similarity.knnGraph(base ∪ delta)` under the
    * BUILD-time centroids. A delta vector becomes a new candidate only
    * in its rank-1 cell, so the affected queries are exactly those
    * probing a delta rank-1 cell; they re-score against their probed
    * cells' full membership (old top-k ∪ anything new — re-scoring the
    * whole cell avoids comparing stored rounded scores), every other
    * query's candidate set is unchanged and its rows are never read or
    * rewritten.
    */
  object Knn {

    val NProbe = 2
    val KNn = 3

    def build(em: DataFrame, idCol: String, embCol: String,
              root: String, iters: Int = 2): Unit = {
      val s = em.sparkSession
      val k = Similarity.deriveK(em.count())
      val cents = Similarity.kmeansTrain(em, idCol, embCol, k, iters)
      s.createDataFrame(cents.toIndexedSeq.map { case (cid, q) => (cid, q.toSeq) })
        .toDF("cid", "q")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/centroids")
      val assigned = CacheRegistry.persist(
        Similarity.probeAssign(em, idCol, embCol, cents.toSeq, NProbe))
      // cluster by the partition column before every dynamic-partition
      // write (the r13 small-files discipline — the refresh path already
      // did this; the build committed one file per (cached task partition
      // × cell) instead of one per cell, and the census queries reading
      // the store paid the open/footer overhead of every tiny file)
      assigned.repartition(col("cell")).write.mode(SaveMode.Overwrite)
        .partitionBy("cell").parquet(s"$root/assign")
      val tagged = assigned.select(col("cell"), (col("rk") === 1).as("ism"),
        lit(true).as("isq"), col("id"), col("q"), col("nrm"))
      val edges = Similarity.knnTopK(
        Similarity.scoreCellsLocal(tagged, KNn), KNn)
      val pcell = assigned.filter(col("rk") === 1)
        .select(col("id").as("query_id"), col("cell").as("pcell"))
      edges.join(pcell, "query_id")
        .repartition(col("pcell"))
        .write.mode(SaveMode.Overwrite).partitionBy("pcell")
        .parquet(s"$root/edges")
      CacheRegistry.release(assigned)
    }

    /** Read back the frozen centroids (config-scale, ≤ 1024 × 64 longs). */
    private def centroids(s: SparkSession, root: String): Array[(Long, Array[Long])] =
      Tables.parquet(s, s"$root/centroids").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)

    def refresh(s: SparkSession, root: String, deltaEm: DataFrame,
                idCol: String, embCol: String): Unit = {
      val cents = centroids(s, root)
      val dAss = CacheRegistry.persist(
        Similarity.probeAssign(deltaEm, idCol, embCol, cents.toSeq, NProbe))
      // cells that gain a MEMBER (rank-1) — the only cells whose
      // candidate sets change; config-scale (≤ k values)
      val touchedCells = dAss.filter(col("rk") === 1)
        .select("cell").distinct().collect().map(_.getLong(0))
      if (touchedCells.nonEmpty) {
        // 1. delta probe rows append into the store (new files only —
        //    existing assign files stay byte-identical); clustered by
        //    cell so the dynamic-partition append commits one file per
        //    touched cell, not per (input partition x cell)
        dAss.repartition(col("cell"))
          .write.mode(SaveMode.Append).partitionBy("cell")
          .parquet(s"$root/assign")
        val sp = new Path(s"$root/assign")
        val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
        def cellDirs(cells: Seq[Long]): Seq[String] = cells
          .map(v => new Path(sp, s"cell=$v")).filter(hasData(fs, _))
          .map(_.toString)
        def readCells(cells: Seq[Long]): DataFrame =
          Tables.parquet(s, cellDirs(cells), Map("basePath" -> s"$root/assign"))
            .withColumn("cell", col("cell").cast("long"))
        // 2. touched queries: every vector PROBING a touched cell (its
        //    candidate set changed) — O(touched-cell rows), partition-
        //    pruned; includes the delta vectors themselves (their rows
        //    were just appended)
        val touchedRows = readCells(touchedCells.toIndexedSeq)
        val qvecs = touchedRows.select(col("id"), col("q"))
          .dropDuplicates("id")
        // 3. full probe lists of the touched queries, recomputed from
        //    their vectors against the frozen centroids (the store is
        //    cell-partitioned, so re-probing beats scanning every cell
        //    for their rows)
        val qProbe = CacheRegistry.persist(
          Similarity.probeAssignQ(qvecs, cents.toSeq, NProbe))
        val candCells = qProbe.select("cell").distinct()
          .collect().map(_.getLong(0))
        // 4. members of every probed cell (store post-append = corpus +
        //    delta) vs the touched queries — the same kernel as the
        //    build, queries restricted to the touched set
        val members = readCells(candCells.toIndexedSeq)
          .filter(col("rk") === 1)
          .select(col("cell"), lit(true).as("ism"), lit(false).as("isq"),
            col("id"), col("q"), col("nrm"))
        val queries = qProbe.select(col("cell"), lit(false).as("ism"),
          lit(true).as("isq"), col("id"), col("q"), col("nrm"))
        val newEdges = Similarity.knnTopK(
          Similarity.scoreCellsLocal(members.unionByName(queries), KNn), KNn)
        val pcellMap = qProbe.filter(col("rk") === 1)
          .select(col("id").as("query_id"), col("cell").as("pcell"))
        val newE = newEdges.join(pcellMap, "query_id")
        // 5. rewrite ONLY the edge partitions holding touched queries:
        //    keep co-located untouched queries' rows, replace the
        //    touched set's, dynamic-overwrite those pcells (the
        //    refreshAdditive read-then-replace discipline)
        val touchedPcells = pcellMap.select("pcell").distinct()
          .collect().map(_.getLong(0))
        val ep = new Path(s"$root/edges")
        val edirs = touchedPcells.toIndexedSeq
          .map(v => new Path(ep, s"pcell=$v")).filter(hasData(fs, _))
          .map(_.toString)
        val oldKept =
          if (edirs.isEmpty)
            newE.limit(0)
          else Tables.parquet(s, edirs, Map("basePath" -> s"$root/edges"))
            .withColumn("pcell", col("pcell").cast("long"))
            .join(broadcast(qProbe.select(col("id").as("query_id")).distinct()),
              Seq("query_id"), "left_anti")
        val merged = oldKept.unionByName(newE.select(oldKept.columns.map(col): _*))
          .repartition(col("pcell")) // one file per touched pcell, not per task
        val snap = merged.localCheckpoint(true)
        snap.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("pcell").parquet(s"$root/edges")
        snap.unpersist(blocking = true)
        CacheRegistry.release(qProbe)
      }
      CacheRegistry.release(dAss)
    }

    /** The consumer-facing kNN graph off the store. */
    def edges(s: SparkSession, root: String): DataFrame =
      Tables.parquet(s, s"$root/edges")
        .select("query_id", "rnk", "cand_id", "cos")
  }

  /** TWO-LEVEL (hierarchical) IVF kNN-graph store — [[Knn]] re-based on
    * [[Similarity.knnGraphHier]], which is the scale-path snapshot
    * builder (PipelineQueries.HierSwapVectors dispatches to it past the
    * flat deriveK cap); the index a 100 TB corpus actually maintains is
    * therefore the TWO-LEVEL one, and it needs the same
    * refresh-equals-rebuild contract as the flat store. Layout under
    * `root`:
    *  - `coarse/` (cid, q): spread-seed coarse centroids — FROZEN at
    *    build (the IVF discipline: cells define the index);
    *  - `fine/` (cell, fcid, q): per-coarse-cell fine centroids — FROZEN
    *    likewise (both levels are the index's geometry; retraining
    *    either is a rebuild);
    *  - `assign/` partitioned by `fcell` (the GLOBALLY-unique fine-cell
    *    id — the fine seed's vec_id): serving rows (ism, id, q, nrm),
    *    `ism` marking the member row (top-1 fine within rank-1 coarse);
    *  - `edges/` partitioned by `pfcell` (the query's member fine cell,
    *    or its lowest probed fine cell for the base-memberless-coarse
    *    edge case): (query_id, rnk, cand_id, cos).
    *
    * Refresh contract (proved by the q_knn_edges_incremental_hier
    * oracle): after `refresh(delta)` the edge table equals
    * `Similarity.knnGraphHier(base ∪ delta)` under the BUILD-time coarse
    * AND fine centroids. A delta vector becomes a candidate only in its
    * member fine cell, so the affected queries are exactly those probing
    * a delta-membered fine cell; they re-score against their probed fine
    * cells' full membership, every other query's rows are never read or
    * rewritten (byte-identity spec-pinned like the flat store's).
    *
    * Scale posture: identical to [[Knn]] — per refresh the work is
    * O(delta + touched fine cells), centroid metadata is config-scale
    * (guarded by Similarity.FineBroadcastBudgetBytes on read-back), and
    * fine-cell partitions are ~TargetCellSize rows, so the touched reads
    * are far FINER-grained than the flat store's coarse cells: the same
    * delta touches ~1/k2 as many stored rows.
    */
  object Knn2 {

    val NProbe1 = 2
    val NProbe2 = 2
    val KNn = 3
    val Iters2 = 2

    private def coarseOf(s: SparkSession, root: String): Array[(Long, Array[Long])] =
      Tables.parquet(s, s"$root/coarse").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)

    private def fineMapOf(s: SparkSession, root: String)
        : Map[Long, (Array[Long], Array[Array[Long]], Array[Double])] =
      Similarity.hierFineMap(
        Tables.parquet(s, s"$root/fine").select("cell", "fcid", "q").collect())

    /** The store's pfcell rule: the member fine cell when the query has
      * one (always, at build — a vector's rank-1 coarse cell contains
      * itself, so fine centroids exist there), else the lowest probed
      * fine cell (a DELTA vector can land rank-1 in a coarse cell that
      * had no base members and thus no frozen fine level — it still
      * queries via its other probed cells, and its edges need a home
      * partition). */
    private def pfcellOf(tagged: DataFrame): DataFrame =
      tagged.groupBy(col("id").as("query_id"))
        .agg(coalesce(min(when(col("ism"), col("cell"))), min(col("cell")))
          .as("pfcell"))

    def build(em: DataFrame, idCol: String, embCol: String,
              root: String): Unit = {
      val s = em.sparkSession
      val nEm = em.count()
      val k1 = Similarity.deriveK2(nEm)
      val cents = Similarity.kmeansTrainSpread(em, idCol, embCol,
        k = k1, iters = 2, nKnown = nEm)
      s.createDataFrame(cents.toIndexedSeq.map { case (cid, q) => (cid, q.toSeq) })
        .toDF("cid", "q")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/coarse")
      val assigned = CacheRegistry.persist(
        Similarity.probeAssign(em, idCol, embCol, cents.toSeq, NProbe1))
      val fineCollected = Similarity
        .hierFineCentroids(assigned, k2 = k1, iters2 = Iters2).collect()
      s.createDataFrame(fineCollected.toIndexedSeq.map(r =>
          (r.getLong(0), r.getLong(1), r.getSeq[Long](2))))
        .toDF("cell", "fcid", "q")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/fine")
      val fineMap = Similarity.hierFineMap(fineCollected)
      val tagged = CacheRegistry.persist(
        Similarity.hierServeTagged(assigned, fineMap, NProbe2))
      // one file per fine cell (the r13/r15 small-files discipline)
      tagged.select(col("cell").as("fcell"), col("ism"),
          col("id"), col("q"), col("nrm"))
        .repartition(col("fcell")).write.mode(SaveMode.Overwrite)
        .partitionBy("fcell").parquet(s"$root/assign")
      val edges = Similarity.knnTopK(
        Similarity.scoreCellsLocal(tagged, KNn), KNn)
      edges.join(pfcellOf(tagged), "query_id")
        .repartition(col("pfcell"))
        .write.mode(SaveMode.Overwrite).partitionBy("pfcell")
        .parquet(s"$root/edges")
      CacheRegistry.release(tagged)
      CacheRegistry.release(assigned)
    }

    def refresh(s: SparkSession, root: String, deltaEm: DataFrame,
                idCol: String, embCol: String): Unit = {
      val coarse = coarseOf(s, root)
      val fineMap = fineMapOf(s, root)
      val dAss = Similarity.probeAssign(deltaEm, idCol, embCol,
        coarse.toSeq, NProbe1)
      val dTag = CacheRegistry.persist(
        Similarity.hierServeTagged(dAss, fineMap, NProbe2))
      // fine cells gaining a MEMBER — the only cells whose candidate sets
      // change; config-scale (≤ |delta| values, typically far fewer)
      val touched = dTag.filter(col("ism"))
        .select("cell").distinct().collect().map(_.getLong(0))
      if (touched.nonEmpty) {
        dTag.select(col("cell").as("fcell"), col("ism"),
            col("id"), col("q"), col("nrm"))
          .repartition(col("fcell"))
          .write.mode(SaveMode.Append).partitionBy("fcell")
          .parquet(s"$root/assign")
        val sp = new Path(s"$root/assign")
        val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
        def cellDirs(cells: Seq[Long]): Seq[String] = cells
          .map(v => new Path(sp, s"fcell=$v")).filter(hasData(fs, _))
          .map(_.toString)
        def readCells(cells: Seq[Long]): DataFrame =
          Tables.parquet(s, cellDirs(cells), Map("basePath" -> s"$root/assign"))
            .withColumn("fcell", col("fcell").cast("long"))
        // touched queries: every vector PROBING a touched fine cell —
        // partition-pruned store read, O(touched fine-cell rows)
        val qvecs = readCells(touched.toIndexedSeq)
          .select(col("id"), col("q")).dropDuplicates("id")
        // their FULL serving rows, recomputed against the frozen two-level
        // geometry (re-serving beats scanning every fine cell for rows)
        val qTag = CacheRegistry.persist(Similarity.hierServeTagged(
          Similarity.probeAssignQ(qvecs, coarse.toSeq, NProbe1),
          fineMap, NProbe2))
        val candCells = qTag.select("cell").distinct()
          .collect().map(_.getLong(0))
        // members of every probed fine cell (store post-append = corpus +
        // delta) vs the touched queries — the build kernel, queries
        // restricted to the touched set
        val members = readCells(candCells.toIndexedSeq)
          .filter(col("ism"))
          .select(col("fcell").as("cell"), lit(true).as("ism"),
            lit(false).as("isq"), col("id"), col("q"), col("nrm"))
        val queries = qTag.select(col("cell"), lit(false).as("ism"),
          lit(true).as("isq"), col("id"), col("q"), col("nrm"))
        val newEdges = Similarity.knnTopK(
          Similarity.scoreCellsLocal(members.unionByName(queries), KNn), KNn)
        val pfcellMap = pfcellOf(qTag)
        val newE = newEdges.join(pfcellMap, "query_id")
        val touchedPcells = pfcellMap.select("pfcell").distinct()
          .collect().map(_.getLong(0))
        val ep = new Path(s"$root/edges")
        val edirs = touchedPcells.toIndexedSeq
          .map(v => new Path(ep, s"pfcell=$v")).filter(hasData(fs, _))
          .map(_.toString)
        val oldKept =
          if (edirs.isEmpty)
            newE.limit(0)
          else Tables.parquet(s, edirs, Map("basePath" -> s"$root/edges"))
            .withColumn("pfcell", col("pfcell").cast("long"))
            .join(broadcast(qTag.select(col("id").as("query_id")).distinct()),
              Seq("query_id"), "left_anti")
        val merged = oldKept.unionByName(newE.select(oldKept.columns.map(col): _*))
          .repartition(col("pfcell"))
        val snap = merged.localCheckpoint(true)
        snap.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("pfcell").parquet(s"$root/edges")
        snap.unpersist(blocking = true)
        CacheRegistry.release(qTag)
      }
      CacheRegistry.release(dTag)
    }

    /** The consumer-facing kNN graph off the store. */
    def edges(s: SparkSession, root: String): DataFrame =
      Tables.parquet(s, s"$root/edges")
        .select("query_id", "rnk", "cand_id", "cos")
  }

  /** Inverted-index store — [[TextAnalysis.irIndex]] re-shaped for
    * incremental landings. Layout under `root`:
    *  - `tf/` partitioned by `bucket = pmod(id, nBuckets)`: per-(doc,
    *    hashed-term) frequencies (id, isq, token, tf) — documents are
    *    immutable, so a delta batch APPENDS files and every existing
    *    file stays byte-identical;
    *  - `doclen/` same bucketing: (id, len) — append-only likewise;
    *  - `df/` partitioned by `dbucket = pmod(token, nBuckets)`:
    *    per-term document frequency — the only MUTABLE table (a new doc
    *    increments df for each of its distinct terms), refreshed
    *    additively via [[Rollup.refreshAdditive]]: only buckets holding
    *    delta-vocabulary terms rewrite;
    *  - `meta/`: (n_docs) per LANDING, append-only — the stop-cap input
    *    is the SUM (counts ALL landed docs, token-empty ones included,
    *    matching the build-from-raw cap). Append-only meta removes the
    *    refresh's read-modify-write on the counter (one fewer action per
    *    refresh, and no lost update under concurrent landings).
    *
    * The store keeps tf UNCAPPED and applies the stop-cap at view time
    * ([[Ir.postings]]): the cap threshold max(5, frac·n_docs) moves as
    * the corpus grows, so a term dropped at snapshot N can come back
    * under the cap at N+1 — capping inside the store would lose its
    * rows and break refresh == rebuild.
    */
  object Ir {

    /** Write-salt width for corpus-scale build writes: ≤ this many files
      * per bucket, nBuckets × this many parallel write tasks. */
    val WriteSalt = 8L

    private def tfOf(docs: DataFrame, idCol: String, textCol: String,
                     isQuery: org.apache.spark.sql.Column): DataFrame =
      docs.select(col(idCol).cast("long").as("id"), isQuery.as("isq"),
          explode(TextAnalysis.tokens(col(textCol))).as("tok"))
        .select(col("id"), col("isq"), xxhash64(col("tok")).as("token"))
        .groupBy("id", "isq", "token").agg(count(lit(1)).as("tf"))

    /** Append one landing's doc count; the live total is the SUM. */
    private def appendMeta(s: SparkSession, root: String, nDocs: Long): Unit =
      s.createDataFrame(Seq(Tuple1(nDocs))).toDF("n_docs")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/meta")

    private def nDocs(s: SparkSession, root: String): Long =
      Tables.parquet(s, s"$root/meta").agg(sum(col("n_docs"))).head().getLong(0)

    def build(docs: DataFrame, idCol: String, textCol: String,
              isQuery: org.apache.spark.sql.Column, root: String,
              nBuckets: Int = 16): Unit = {
      val s = docs.sparkSession
      // the landed-doc count rides the tf materialization (observe fires
      // with dtf's first action) — no separate count() pass over the input
      val obs = org.apache.spark.sql.Observation()
      val tf = CacheRegistry.persist(tfOf(
        docs.observe(obs, count(lit(1)).as("n")), idCol, textCol, isQuery))
      // cluster by (bucket, salt) before each dynamic-partition write
      // (small-files discipline, same as refresh: the cached tf pins the
      // shuffle partition count, and N partitions × nBuckets would commit
      // N×16 tiny files the census consumers re-open on every read). The
      // salt keeps the BUILD parallel: tf is corpus-scale, and a plain
      // repartition(bucket) would funnel the whole rebuild through
      // nBuckets=16 write tasks — the one-task-per-value serialization
      // writePartitionedByDay deliberately avoids. Bound: ≤ WriteSalt
      // files per bucket, up to nBuckets × WriteSalt write tasks.
      def salted(df: DataFrame, keyCol: String, bucketCol: String) =
        df.repartition(col(bucketCol), pmod(col(keyCol), lit(WriteSalt)))
      salted(tf.withColumn("bucket", pmod(col("id"), lit(nBuckets.toLong))),
          "id", "bucket")
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(s"$root/tf")
      salted(tf.groupBy("id").agg(sum(col("tf")).as("len"))
          .withColumn("bucket", pmod(col("id"), lit(nBuckets.toLong))),
          "id", "bucket")
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(s"$root/doclen")
      salted(tf.groupBy("token").agg(count(lit(1)).as("df"))
          .withColumn("dbucket", pmod(col("token"), lit(nBuckets.toLong))),
          "token", "dbucket")
        .write.mode(SaveMode.Overwrite).partitionBy("dbucket")
        .parquet(s"$root/df")
      // a rebuild resets the landing ledger
      val mp = new Path(s"$root/meta")
      val fs = mp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(mp)) fs.delete(mp, true)
      appendMeta(s, root, obs.get("n").asInstanceOf[Long])
      CacheRegistry.release(tf)
    }

    def refresh(s: SparkSession, root: String, deltaDocs: DataFrame,
                idCol: String, textCol: String,
                isQuery: org.apache.spark.sql.Column,
                nBuckets: Int = 16): Unit = {
      val obs = org.apache.spark.sql.Observation()
      val dtf = CacheRegistry.persist(tfOf(
        deltaDocs.observe(obs, count(lit(1)).as("n")), idCol, textCol, isQuery))
      // cluster by bucket before the dynamic-partition append: the cache
      // pins dtf at the shuffle partition count, and a 256-partition
      // input × 16 buckets commits ~4k tiny files (measured 7.8 s for a
      // 30k-row delta vs 0.5 s repartitioned — pure open/commit overhead)
      dtf.withColumn("bucket", pmod(col("id"), lit(nBuckets.toLong)))
        .repartition(col("bucket"))
        .write.mode(SaveMode.Append).partitionBy("bucket")
        .parquet(s"$root/tf")
      dtf.groupBy("id").agg(sum(col("tf")).as("len"))
        .withColumn("bucket", pmod(col("id"), lit(nBuckets.toLong)))
        .repartition(col("bucket"))
        .write.mode(SaveMode.Append).partitionBy("bucket")
        .parquet(s"$root/doclen")
      Rollup.refreshAdditive(s, s"$root/df",
        dtf.groupBy("token").agg(count(lit(1)).as("df"))
          .withColumn("dbucket", pmod(col("token"), lit(nBuckets.toLong))),
        "dbucket", keyCols = Seq("token"), sumCols = Seq("df"))
      appendMeta(s, root, obs.get("n").asInstanceOf[Long])
      CacheRegistry.release(dtf)
    }

    /** Stop-capped postings view (id, isq, token, tf, df) — equals
      * [[TextAnalysis.irIndex]]'s postings on the full landed corpus. */
    def postings(s: SparkSession, root: String,
                 stopTermFrac: Double = 0.02): DataFrame = {
      val cap = math.max(5.0, stopTermFrac * nDocs(s, root))
      Tables.parquet(s, s"$root/tf")
        .join(Tables.parquet(s, s"$root/df")
          .filter(col("df") <= lit(cap)).select("token", "df"), "token")
        .select("id", "isq", "token", "tf", "df")
    }

    def doclen(s: SparkSession, root: String): DataFrame =
      Tables.parquet(s, s"$root/doclen").select("id", "len")
  }
}
