package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.sources.Tables

/** Streaming UPSERT sink: maintains a compacted latest-per-key state
  * table under `statePath` from a change stream — the Delta-style
  * CDC-apply deployment shape, built on plain checkpointed parquet.
  * (The reference's nearest sibling is its continuous insert loop into a
  * ClickHouse MergeTree-family table, clickhouse/clickhouse.py:60-81;
  * latest-per-key merge-on-write is an ANALOGY to that warehouse's
  * background-merge model, not a behavior the reference itself ships.)
  *
  * Mechanics per micro-batch (`foreachBatch`):
  *  1. incoming rows are hash-bucketed on the key (`pmod(key, nBuckets)`
  *     — the state table's partition layout);
  *  2. ONLY the touched buckets of the current state are read back,
  *     unioned with the batch, and compacted to the max-(orderCols) row
  *     per key (a per-key window over bucket-local data);
  *  3. the merged buckets COMMIT via an atomic staged swap (below) —
  *     untouched buckets are never read or rewritten.
  *
  * Scale posture: per batch the work is O(touched-bucket state + batch),
  * not O(total state) — with time-correlated keys a batch touches few
  * buckets and the rewrite is bounded. The compaction window partitions
  * by key (bucket-local, never global).
  *
  * EXACTLY-ONCE COMMIT PROTOCOL (plain parquet, no table format):
  * dynamic partition overwrite deletes a bucket's old files before the
  * new ones land, so a crash inside that window loses accumulated state.
  * Instead the merge never writes into the live tree at all:
  *
  *  a. staged write — the merged buckets land under
  *     `.graft_stage/<batchId>/bucket=<b>/` (dot-prefixed: invisible to
  *     parquet readers of the live store);
  *  b. undo manifest — `.graft_undo/<batchId>/MANIFEST` records every
  *     touched bucket and whether it existed, written via
  *     tmp-file + rename (atomic: the manifest either exists complete
  *     or not at all). NO live-tree mutation happens before this point;
  *  c. swap — per bucket: live `bucket=<b>` renames into the undo dir
  *     (preserving the prior state), then the staged dir renames into
  *     place. Directory rename is the FS's atomic primitive (HDFS /
  *     local; object stores use their own committer at this seam);
  *  d. cleanup — undo and stage dirs delete.
  *
  * Recovery (start of every batch): an undo dir WITH a manifest means a
  * crash interrupted (c)/(d) — every saved bucket renames back, every
  * swapped-in bucket of a previously-absent partition deletes, restoring
  * the pre-batch state; an undo dir without a manifest means the crash
  * hit (b) or cleanup's tail — the live tree is untouched (resp. fully
  * committed) and the dir just deletes. Either way the replayed batch
  * re-merges idempotently (latest-per-key of an already-applied batch is
  * a no-op), so the protocol converges to the same state from ANY crash
  * point — exactly-once without a transactional table format.
  *
  * Ties on `orderCols` must be impossible by construction (callers
  * include a unique id as the last order column) — otherwise
  * latest-per-key is nondeterministic.
  */
object UpsertSink {

  private val DrainTimeoutMs = 15 * 60 * 1000L

  private[graft] def hasDataFile(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet"))

  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"UpsertSink: rename $src -> $dst failed")

  /** Roll back any interrupted commit under `statePath` (see protocol
    * above). Idempotent: safe to call at every batch start and from a
    * crash inside recovery itself. */
  private[graft] def recover(fs: FileSystem, sp: Path): Unit = {
    val undoRoot = new Path(sp, ".graft_undo")
    if (fs.exists(undoRoot)) {
      fs.listStatus(undoRoot).filter(_.isDirectory).foreach { d =>
        val mf = new Path(d.getPath, "MANIFEST")
        if (fs.exists(mf)) {
          val in = fs.open(mf)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          text.split("\n").filter(_.nonEmpty).foreach { line =>
            val Array(b, existed) = line.split(" ")
            val live = new Path(sp, s"bucket=$b")
            val saved = new Path(d.getPath, s"bucket=$b")
            if (fs.exists(saved)) {
              // swap was in flight for this bucket: restore the original
              if (fs.exists(live)) fs.delete(live, true)
              renameOrThrow(fs, saved, live)
            } else if (existed == "0" && fs.exists(live)) {
              // previously-absent bucket half-committed: remove it
              fs.delete(live, true)
            }
            // existed==1 && saved missing: either the swap never reached
            // this bucket (live IS the original) or cleanup already
            // consumed the saved copy after a complete swap (live is the
            // new state and the replay re-merges idempotently) — leave it
          }
        }
        fs.delete(d.getPath, true)
      }
      fs.delete(undoRoot, true)
    }
    val stageRoot = new Path(sp, ".graft_stage")
    if (fs.exists(stageRoot)) fs.delete(stageRoot, true)
  }

  def availableNow(stream: DataFrame, statePath: String, ckpt: String,
                   keyCol: String, orderCols: Seq[String],
                   nBuckets: Int = 16): Int = {
    require(orderCols.nonEmpty, "orderCols must order versions per key")
    val nonEmptyBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        // a null key is malformed CDC input (decodeJson keeps records
        // whose fields are null) — bucket it to the -1 sentinel and fail
        // LOUDLY rather than NPE-ing the drain or silently merging a
        // null-key state row
        val b = batch.withColumn("bucket",
          coalesce(pmod(col(keyCol), lit(nBuckets.toLong)), lit(-1L)))
        val touched = b.select("bucket").distinct()
          .collect().map(_.getLong(0))
        require(!touched.contains(-1L),
          s"UpsertSink: null $keyCol in the change stream — upsert keys must be non-null")
        if (touched.nonEmpty) {
          nonEmptyBatches.incrementAndGet()
          // Hadoop FS, not java.io.File: the state table lives wherever
          // the warehouse does (HDFS/S3 at scale; local disk here).
          val sp = new Path(statePath)
          val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
          recover(fs, sp)
          // The touched buckets' directories are addressed DIRECTLY
          // (`bucket=<b>` — always a non-null long): `read.parquet(root)`
          // would list every bucket directory before pruning, a
          // store-size-dependent metadata cost the O(batch + touched
          // buckets) claim excludes. Dirs holding no data file are
          // skipped ("Unable to infer schema" otherwise); the partition
          // column inferred from dir names casts back to the batch's
          // LONG explicitly rather than leaning on union coercion. The
          // isin filter stays on top — directory targeting is an
          // optimization, not the correctness boundary.
          val cur =
            if (fs.exists(sp)) {
              val dirs = touched.toIndexedSeq
                .map(v => new Path(sp, s"bucket=$v"))
                .filter(hasDataFile(fs, _)).map(_.toString)
              if (dirs.isEmpty) b.limit(0)
              else Tables.parquet(s, dirs, Map("basePath" -> statePath))
                .withColumn("bucket", col("bucket").cast("long"))
                .filter(col("bucket").isin(touched.toSeq: _*))
            } else b.limit(0)
          val w = Window.partitionBy(keyCol)
            .orderBy(orderCols.map(c => col(c).desc): _*)
          val merged = cur.unionByName(b)
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          // (a) staged write — never into the live tree, so the job can
          // read the files it is replacing with no checkpoint copy
          val stage = new Path(sp, s".graft_stage/$batchId")
          merged.write.mode(SaveMode.Overwrite)
            .partitionBy("bucket")
            .parquet(stage.toString)
          // (b) undo manifest, atomic via tmp + rename
          val undo = new Path(sp, s".graft_undo/$batchId")
          fs.mkdirs(undo)
          val lines = touched.toIndexedSeq.sorted.map { v =>
            val existed = fs.exists(new Path(sp, s"bucket=$v"))
            s"$v ${if (existed) "1" else "0"}"
          }
          val tmp = new Path(undo, "MANIFEST.tmp")
          val out = fs.create(tmp, true)
          try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
          finally out.close()
          renameOrThrow(fs, tmp, new Path(undo, "MANIFEST"))
          // (c) swap
          touched.toIndexedSeq.sorted.foreach { v =>
            val live = new Path(sp, s"bucket=$v")
            val staged = new Path(stage, s"bucket=$v")
            // every touched bucket holds >= its batch keys after the
            // merge — a missing staged dir means the write lost data;
            // check BEFORE moving the live bucket aside
            require(fs.exists(staged),
              s"UpsertSink: staged $staged missing — aborting swap")
            if (fs.exists(live))
              renameOrThrow(fs, live, new Path(undo, s"bucket=$v"))
            renameOrThrow(fs, staged, live)
          }
          // (d) cleanup — the MANIFEST first, and CHECKED: recover() is
          // manifest-gated, so an undo dir that lost its manifest is
          // inert, but a surviving manifest after this batch commits to
          // the checkpoint would make the next recover() roll the
          // committed buckets back with no replay pending — silent data
          // loss. Everything after the manifest is best-effort (a
          // non-recursive delete refuses a non-empty dir).
          val mfPath = new Path(undo, "MANIFEST")
          require(fs.delete(mfPath, false) || !fs.exists(mfPath),
            s"UpsertSink: could not retire undo manifest $mfPath — " +
              "aborting before checkpoint commit (recover() would roll back)")
          fs.delete(undo, true)
          fs.delete(stage, true)
          fs.delete(new Path(sp, ".graft_undo"), false)
          fs.delete(new Path(sp, ".graft_stage"), false)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(DrainTimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"upsert drain to $statePath did not terminate within ${DrainTimeoutMs / 1000}s")
    }
    // counted inside foreachBatch: recentProgress is a ring buffer
    // (numRecentProgressUpdates, default 100) and would undercount a
    // drain longer than its window
    nonEmptyBatches.get()
  }
}
