package graft.ops

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import graft.sources.Tables

/** The one way a partitioned parquet store reads back and replaces the
  * partitions a write touches. Every store writer that rewrites touched
  * partitions goes through here: `Rollup`'s additive merges and
  * compaction, the `IncrementalIndex` kNN edge stores and
  * `streaming.UpsertSink`. The reference leaves this to ClickHouse, whose
  * parts commit atomically (clickhouse/clickhouse.py:70-81); plain parquet
  * needs its own protocol.
  *
  * CRASH-SAFE COMMIT PROTOCOL (plain parquet, no table format). A dynamic
  * partition overwrite deletes a partition's old files before the new
  * ones land, so a crash inside that window loses the partition's state.
  * [[replace]] never writes into the live tree at all:
  *
  *  a. staged write — the merged partitions land under
  *     `.graft_stage/<uuid>/<partCol>=<v>/` (dot-prefixed: invisible to
  *     parquet readers of the live store). The job reads the live files it
  *     is replacing and writes elsewhere, so it needs no checkpoint copy;
  *  b. undo manifest — `.graft_undo/<uuid>/MANIFEST` records every staged
  *     partition DIRECTORY NAME (exactly as Spark wrote it, so null
  *     `__HIVE_DEFAULT_PARTITION__` and escaped values round-trip) and
  *     whether it existed, written via tmp-file + rename (the manifest
  *     either exists complete or not at all). No live-tree mutation
  *     happens before this point, and none until every staged partition
  *     is checked to hold data;
  *  c. swap — per partition: the live dir renames into the undo dir
  *     (preserving the prior state), then the staged dir renames into
  *     place. Directory rename is the FS's atomic primitive (HDFS / local;
  *     object stores use their own committer at this seam);
  *  d. cleanup — the manifest retires first (checked), then the undo and
  *     stage dirs delete.
  *
  * Recovery ([[recover]], run before every read-back and every replace):
  * an undo dir WITH a manifest means a crash interrupted (c) or the start
  * of (d) — every saved partition renames back and every swapped-in
  * partition that did not exist before deletes, restoring the pre-commit
  * state; an undo dir without a manifest means the crash hit (b) or the
  * tail of cleanup — the live tree is untouched (resp. fully committed)
  * and the dir just deletes. Either way the store reads exactly as before
  * or exactly as after the commit.
  *
  * Partitions the merged frame has no rows for are left alone, as under
  * dynamic overwrite. One writer per store at a time.
  */
object StoreCommit {

  private val StageDir = ".graft_stage"
  private val UndoDir = ".graft_undo"

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    // Hadoop FS, not java.io.File: stores live wherever the warehouse
    // does (HDFS/S3 at scale; local disk here)
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def hasDataFile(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet"))

  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"StoreCommit: rename $src -> $dst failed")

  /** Roll back any interrupted commit under `root` (see the protocol
    * above). Idempotent: safe to call before every commit and from a
    * crash inside recovery itself. */
  private[graft] def recover(fs: FileSystem, root: Path): Unit = {
    val undoRoot = new Path(root, UndoDir)
    if (fs.exists(undoRoot)) {
      fs.listStatus(undoRoot).filter(_.isDirectory).foreach { d =>
        val mf = new Path(d.getPath, "MANIFEST")
        if (fs.exists(mf)) {
          val in = fs.open(mf)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          text.split("\n").filter(_.nonEmpty).foreach { line =>
            // `<dir name> <existed>`: the flag is the last token
            val cut = line.lastIndexOf(' ')
            val (name, existed) = (line.substring(0, cut), line.substring(cut + 1))
            val live = new Path(root, name)
            val saved = new Path(d.getPath, name)
            if (fs.exists(saved)) {
              // swap was in flight for this partition: restore the original
              if (fs.exists(live)) fs.delete(live, true)
              renameOrThrow(fs, saved, live)
            } else if (existed == "0" && fs.exists(live)) {
              // previously-absent partition half-committed: remove it
              fs.delete(live, true)
            }
            // existed==1 && saved missing: the swap never reached this
            // partition (the manifest retires before any saved copy is
            // deleted), so live IS the original — leave it
          }
        }
        fs.delete(d.getPath, true)
      }
      fs.delete(undoRoot, true)
    }
    val stageRoot = new Path(root, StageDir)
    if (fs.exists(stageRoot)) fs.delete(stageRoot, true)
  }

  /** The store's rows in the partitions `partCol` ∈ `values` (null
    * matches the null partition), after recovering any interrupted
    * commit; None when the store holds none of them.
    *
    * O(touched) LISTING, not just O(touched) read: reading the root lists
    * EVERY partition directory before pruning — a store-size-dependent
    * metadata cost that dominates a refresh once the store holds years of
    * days (measured: 1.8× at 10× partitions in SinkStress before this).
    * Integral values address their directories straight off (`day=5`);
    * null or other values fall back to the full listing, where the
    * predicate alone prunes. The predicate stays on top either way —
    * directory targeting is an optimization, never the correctness
    * boundary. The partition column, inferred from directory names, is
    * cast back to the values' own type rather than leaning on union
    * coercion.
    */
  def readTouched(spark: SparkSession, root: String, partCol: String,
                  values: Seq[Any]): Option[DataFrame] = {
    val (fs, sp) = fsOf(spark, root)
    recover(fs, sp)
    val nonNull = values.filter(_ != null).distinct
    val hasNull = values.contains(null)
    val integral = !hasNull && nonNull.forall {
      case _: java.lang.Long | _: java.lang.Integer |
           _: java.lang.Short | _: java.lang.Byte => true
      case _ => false
    }
    val store =
      if (values.isEmpty || !fs.exists(sp)) None
      else if (integral) {
        val dirs = nonNull.map(v => new Path(sp, s"$partCol=$v"))
          .filter(hasDataFile(fs, _)).map(_.toString)
        if (dirs.isEmpty) None
        else Some(Tables.parquet(spark, dirs, Map("basePath" -> root)))
      } else if (fs.listStatus(sp).exists(st =>
          !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")))
        Some(Tables.parquet(spark, root))
      else None
    store.map { df =>
      val c = col(s"`$partCol`")
      // null-SAFE: isin never matches the null partition, and a delta
      // touching it would read back nothing and replace its accumulated
      // state with the delta alone
      val pred = (nonNull.headOption.map(_ => c.isin(nonNull: _*)) ++
        (if (hasNull) Some(c.isNull) else None)).reduce(_ || _)
      nonNull.headOption.fold(df)(v => df.withColumn(partCol, c.cast(Literal(v).dataType)))
        .filter(pred)
    }
  }

  /** Replace the partitions of `root` that `merged` holds rows for with
    * exactly those rows (the protocol above); every other partition stays
    * byte-identical. `merged` may read the partitions it replaces. */
  def replace(spark: SparkSession, root: String, merged: DataFrame,
              partCol: String): Unit = {
    val (fs, sp) = fsOf(spark, root)
    recover(fs, sp)
    val id = UUID.randomUUID().toString
    // (a) staged write
    val stage = new Path(sp, s"$StageDir/$id")
    merged.write.partitionBy(partCol).parquet(stage.toString)
    val parts = fs.listStatus(stage).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol=")).sorted.toSeq
    parts.foreach { n =>
      require(hasDataFile(fs, new Path(stage, n)),
        s"StoreCommit: staged ${new Path(stage, n)} holds no data file — aborting before the swap")
    }
    // (b) undo manifest, atomic via tmp + rename
    val undo = new Path(sp, s"$UndoDir/$id")
    fs.mkdirs(undo)
    val tmp = new Path(undo, "MANIFEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(parts.map(n =>
      s"$n ${if (fs.exists(new Path(sp, n))) "1" else "0"}\n").mkString.getBytes("UTF-8"))
    finally out.close()
    val mf = new Path(undo, "MANIFEST")
    renameOrThrow(fs, tmp, mf)
    // (c) swap
    parts.foreach { n =>
      val live = new Path(sp, n)
      if (fs.exists(live)) renameOrThrow(fs, live, new Path(undo, n))
      renameOrThrow(fs, new Path(stage, n), live)
    }
    // (d) cleanup — the MANIFEST first, and CHECKED: recover() is
    // manifest-gated, so an undo dir that lost its manifest is inert, but
    // a manifest surviving a finished commit would make the next recover()
    // roll the committed partitions back. Everything after the manifest
    // is best-effort (a non-recursive delete refuses a non-empty dir).
    require(fs.delete(mf, false) || !fs.exists(mf),
      s"StoreCommit: could not retire undo manifest $mf — recover() would roll back")
    fs.delete(undo, true)
    fs.delete(stage, true)
    fs.delete(new Path(sp, UndoDir), false)
    fs.delete(new Path(sp, StageDir), false)
    // a dynamic overwrite re-caches frames over the path; a rename does not
    spark.catalog.refreshByPath(root)
  }
}
