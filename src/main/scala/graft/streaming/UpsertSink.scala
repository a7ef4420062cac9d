package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.ops.StoreCommit

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
  *  3. the merged buckets COMMIT via [[graft.ops.StoreCommit.replace]]'s
  *     atomic staged swap — untouched buckets are never read or
  *     rewritten.
  *
  * Scale posture: per batch the work is O(touched-bucket state + batch),
  * not O(total state) — with time-correlated keys a batch touches few
  * buckets and the rewrite is bounded. The compaction window partitions
  * by key (bucket-local, never global).
  *
  * Exactly-once: StoreCommit leaves the state exactly as before or as
  * after a crashed batch, and the replayed batch re-merges idempotently
  * (latest-per-key of an already-applied batch is a no-op), so the sink
  * converges to the same state from ANY crash point — exactly-once
  * without a transactional table format.
  *
  * Ties on `orderCols` must be impossible by construction (callers
  * include a unique id as the last order column) — otherwise
  * latest-per-key is nondeterministic.
  */
object UpsertSink {

  private val DrainTimeoutMs = 15 * 60 * 1000L

  def availableNow(stream: DataFrame, statePath: String, ckpt: String,
                   keyCol: String, orderCols: Seq[String],
                   nBuckets: Int = 16): Int = {
    require(orderCols.nonEmpty, "orderCols must order versions per key")
    val nonEmptyBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
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
          val w = Window.partitionBy(keyCol)
            .orderBy(orderCols.map(c => col(c).desc): _*)
          val merged = StoreCommit.readTouched(s, statePath, "bucket", touched.toSeq)
            .fold(b)(_.unionByName(b))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          StoreCommit.replace(s, statePath, merged, "bucket")
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
