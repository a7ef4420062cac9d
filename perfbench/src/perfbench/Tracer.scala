package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Span tracing around the benchmark's calls into each engine layer.
  *
  * A span records name, start, end, parent and op id. The id of the open
  * span rides a Spark local property, so the listener charges every job,
  * stage and task to the span whose call started it. Spans stay in memory
  * and are written out when the run ends. With tracing off, `span` only
  * runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                   val start: Long) {
    var end: Long = 0L
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  final class Counters {
    var jobs, stages, tasks, sourceJobs = 0L
    var sourceJobMs, taskRunMs, taskCpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, bytesWritten, peakMem = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  }

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long, Boolean)]()

  // both clocks are sampled once, so span times (nanoTime) and listener
  // event times (epoch ms) map onto one epoch-microsecond axis
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  if (enabled) sc.addSparkListener(new SparkListener {
    private def counterOf(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      // a job whose innermost engine frame is in graft.sources is a table
      // read (schema inference)
      val fromSources = e.stageInfos.exists(_.details.linesIterator
        .find(_.startsWith("graft.")).exists(_.startsWith("graft.sources.")))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      jobStart.put(e.jobId, (span, e.time, fromSources))
      val c = counterOf(span)
      c.synchronized { c.jobs += 1; if (fromSources) c.sourceJobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0, fromSources) =>
        val c = counterOf(span)
        c.synchronized {
          c.jobIntervals += ((t0 * 1000L, e.time * 1000L))
          if (fromSources) c.sourceJobMs += e.time - t0
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counterOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counterOf(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
    }
  })

  def span[T](op: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), op, name, nowUs)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowUs
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.fold(null: String)(_.id.toString))
      }
    }

  /** Attach a value to the innermost span named `name` of `op`. */
  def annotate(op: Int, name: String, key: String, value: Any): Unit =
    if (enabled) spans.reverseIterator.find(s => s.op == op && s.name == name)
      .foreach(_.attrs(key) = value)

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (enabled) org.apache.spark.PerfbenchListenerBridge.waitUntilEmpty(sc)

  /** One JSON object per span, counters included. */
  def writeJsonLines(path: String): Unit = {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      val fields = Seq[(String, Any)](
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_us" -> s.start, "end_us" -> s.end,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "source_jobs" -> c.sourceJobs, "source_job_ms" -> c.sourceJobMs,
        "task_run_ms" -> c.taskRunMs, "task_cpu_ns" -> c.taskCpuNs, "gc_ms" -> c.gcMs,
        "shuffle_read_b" -> c.shuffleRead, "shuffle_write_b" -> c.shuffleWrite,
        "spill_b" -> c.spill, "bytes_written" -> c.bytesWritten, "peak_mem_b" -> c.peakMem,
        "job_intervals_us" -> c.jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq
      ) ++ s.attrs.toSeq
      sb.append(json.writeValueAsString(scala.collection.immutable.ListMap(fields: _*))).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
