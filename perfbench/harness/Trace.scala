package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span tagging plus the benchmark's own listener.
  *
  * A span is a named region of driver code. While one is open, every job the
  * region submits carries the span and operation index as Spark local
  * properties (they reach jobs that AQE submits from its pool threads too),
  * so the listener can attribute jobs, stages and task metrics to the span.
  * Only raw records are kept here; aggregation (medians, interval union,
  * driver time) happens in `perfbench/metrics.py`.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  final class TaskAcc {
    var tasks, failed, runMs, gcMs, shuffleWrite, spill, input, output = 0L
    def json: Map[String, Any] = Map("tasks" -> tasks, "failed" -> failed,
      "run_ms" -> runMs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "input_bytes" -> input, "output_bytes" -> output)
  }

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageTag = mutable.Map.empty[Int, (Int, String)]
  private val tasks = mutable.LinkedHashMap.empty[(Int, String), TaskAcc]
  private var storagePeak = 0L

  private def tag(p: java.util.Properties): (Int, String) =
    Option(p).flatMap(q => Option(q.getProperty(OpKey))).fold((-1, Untagged))(op =>
      (op.toInt, Option(p.getProperty(SpanKey)).getOrElse(Untagged)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, span) = tag(e.properties)
    jobs(e.jobId) = mutable.Map("op" -> op, "span" -> span, "start_ms" -> e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag(e.stageInfo.stageId) = tag(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = tasks.getOrElseUpdate(
      stageTag.getOrElse(e.stageId, (-1, Untagged)), new TaskAcc)
    acc.tasks += 1
    if (!e.taskInfo.successful) acc.failed += 1
    Option(e.taskMetrics).foreach { m =>
      acc.runMs += m.executorRunTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.input += m.inputMetrics.bytesRead
      acc.output += m.outputMetrics.bytesWritten
    }
  }

  /** Run `f` as span `name` of operation `op`: tags its jobs and records
    * the span's wall interval (epoch ms, comparable with job times) and its
    * nanosecond wall time. */
  def span[T](op: Int, name: String)(f: => T): T = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(SpanKey, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(SpanKey, null)
      sampleStorage()
      synchronized {
        spans += Map("op" -> op, "span" -> name, "start_ms" -> startMs,
          "end_ms" -> endMs, "wall_s" -> wall)
      }
    }
  }

  /** Storage memory in use across the block managers, kept as a peak. */
  def sampleStorage(): Unit = {
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    synchronized { storagePeak = math.max(storagePeak, used) }
  }

  /** Everything recorded so far, after the listener bus has drained. */
  def json(): Map[String, Any] = {
    org.apache.spark.ListenerDrain.drain(sc)
    synchronized {
      Map(
        "spans" -> spans.toList,
        "jobs" -> jobs.iterator.map { case (id, j) => j.toMap + ("id" -> id) }.toList,
        "tasks" -> tasks.iterator.map { case ((op, span), a) =>
          a.json ++ Map("op" -> op, "span" -> span) }.toList,
        "storage_peak_bytes" -> storagePeak)
    }
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val Untagged = "untagged"
}
