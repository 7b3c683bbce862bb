package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of benchmark code. `parent` is the id of the span
  * that was open when this one started (-1 at top level). */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Spark's task metrics summed over the jobs launched under one span. */
final class EngineTotals {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakExecMem = 0L

  def add(o: EngineTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_s" -> taskMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6, "peak_exec_mem_mb" -> peakExecMem / 1e6)
}

/** Spans around the benchmark's layer calls. Spans live in memory and
  * are written out when the run ends. A disabled tracer only runs the
  * body: the timed run pays nothing for it.
  *
  * Spans open and close on the driver's main thread only. Each open
  * span is published as a Spark local property, so every job submitted
  * while it is open — from this thread or from a thread it starts, such
  * as a streaming query's — carries the span id, and [[SpanListener]]
  * attributes the job's task metrics to it. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private var sc: Option[SparkContext] = None
  val listener = new SpanListener

  def attach(context: SparkContext): Unit = if (enabled) {
    context.addSparkListener(listener)
    sc = Some(context)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, current, System.nanoTime)
      spans += s
      val prev = current
      current = s.id
      sc.foreach(_.setLocalProperty(Tracer.Key, s.id.toString))
      try body
      finally {
        s.end = System.nanoTime
        current = prev
        sc.foreach(_.setLocalProperty(Tracer.Key, if (prev < 0) null else prev.toString))
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Engine totals per span, each including its descendants' jobs. */
  def inclusiveTotals: Map[Int, EngineTotals] = listener.synchronized {
    val out = mutable.Map.empty[Int, EngineTotals]
    for ((id, t) <- listener.bySpan if id >= 0) {
      var s = id
      while (s >= 0) {
        out.getOrElseUpdate(s, new EngineTotals).add(t)
        s = spans(s).parent
      }
    }
    out.toMap
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Attributes Spark's job, stage and task metrics to the span that was
  * open when each job was submitted (its innermost span). */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, EngineTotals]

  private def totals(span: Int) = bySpan.getOrElseUpdate(span, new EngineTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    totals(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageSpan.getOrElse(e.stageId, -1))
    t.tasks += 1
    if (e.reason != org.apache.spark.Success) t.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }
}
