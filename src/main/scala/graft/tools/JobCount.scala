package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Deterministic cost accounting for a query: Spark JOB / STAGE / TASK
  * counts and summed task run time, via a listener, for the LAST of `reps`
  * executions (earlier reps warm codegen/JIT/caches). Wall-clock on this
  * shared box swings ±12-40% run to run; job and stage counts are exact
  * and task-time sums are far more stable — the right instrument for
  * orchestration-level optimizations (fused convergence probes, folded
  * joins) whose wall effect at sf-scale is inside the noise band.
  *
  * Usage: runMain graft.tools.JobCount <sfDir> <reps> <query> [query ...]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (recording) jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (recording) stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (recording) {
          tasks.incrementAndGet()
          if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        }
    })

    def clean(): Unit = {
      graft.ops.CacheRegistry.drain()
      spark.catalog.clearCache()
      System.gc()
    }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 until reps).foreach { _ => fn(spark, dir).count(); clean() }
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      recording = true
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async: drain the bus before freezing the
      // counters, so late stage and task events are never dropped
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      recording = false
      println(f"JOBCOUNT $name%-28s jobs=${jobs.get}%3d stages=${stages.get}%4d " +
        f"tasks=${tasks.get}%5d task_sec=${taskMs.get / 1000.0}%8.2f " +
        f"wall=$wall%6.2f rows=$n")
      clean()
    }
    spark.stop()
  }
}
