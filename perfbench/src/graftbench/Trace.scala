package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

final case class SpanRec(id: Int, name: String, parent: Int, op: Int,
                         startMs: Double, endMs: Double)

final class JobRec(val jobId: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
}

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that charges every job (and its tasks) to the span that
  * was open on the thread which submitted it. Spans and jobs are kept in
  * memory and written with the run record. While disabled, `span` only
  * runs its body. */
final class Tracer(sc: SparkContext) {
  private val SpanKey = "graftbench.span"
  // one clock for spans and jobs: epoch milliseconds, like listener events
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer.empty[SpanRec]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var enabled = false
  var op: Int = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskMetrics != null) {
          j.taskRunMs += e.taskMetrics.executorRunTime
          j.shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  def enable(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  /** Waits until every posted event has been seen, then detaches. */
  def disable(): Unit = if (enabled) {
    org.apache.spark.GraftBenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans += SpanRec(id, name, parent, op, t0, nowMs)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map(
      "job" -> j.jobId, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "tasks" -> j.tasks, "task_run_ms" -> j.taskRunMs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes))
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
