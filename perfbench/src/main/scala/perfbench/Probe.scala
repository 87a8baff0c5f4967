package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task, stage and job work attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var shuffleReadBytes, shuffleWriteBytes = 0L
  var memSpillBytes, diskSpillBytes, peakExecMem = 0L
  /** task durations (ms) per stage id, for the skew ratio */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Spark listener plus query-execution listener that sum work per span.
  *
  * A span is named by the `perfbench.span` local property of the thread
  * that submits a job (AQE and broadcast threads inherit it); every stage
  * and task of that job counts toward the span. Planning time and task
  * wall intervals are kept for the whole unit, not per span. Listener
  * events arrive asynchronously, so readers call [[Bus.drain]] first.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val spans = mutable.Map.empty[String, Counters]
  private val stageSpan = mutable.Map.empty[Int, String]
  private var planningMs = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def of(span: String): Counters = spans.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .getOrElse(Probe.Untagged)
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, Probe.Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, Probe.Untagged))
    c.tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.memSpillBytes += m.memoryBytesSpilled
      c.diskSpillBytes += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planningMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Take everything recorded since the last call and start afresh. */
  def take(): Probe.Snapshot = synchronized {
    val s = Probe.Snapshot(spans.toMap, planningMs, intervals.toVector)
    spans.clear(); stageSpan.clear(); intervals.clear(); planningMs = 0L
    s
  }
}

object Probe {
  val MB: Double = 1024.0 * 1024.0
  val SpanKey = "perfbench.span"
  val Untagged = "untagged"

  final case class Snapshot(
      spans: Map[String, Counters],
      planningMs: Long,
      taskIntervals: Vector[(Long, Long)]) {

    /** Sum of a field over the spans whose name satisfies `keep`. */
    def sum(keep: String => Boolean)(f: Counters => Long): Long =
      spans.collect { case (n, c) if keep(n) => f(c) }.sum

    def total(f: Counters => Long): Long = sum(_ => true)(f)

    /** Wall milliseconds of [from, to] in which no task was running. */
    def idleMs(from: Long, to: Long): Long = {
      var covered = 0L
      var end = from
      for ((s, e) <- taskIntervals.sortBy(_._1)) {
        val a = math.max(s, end)
        val b = math.min(e, to)
        if (b > a) { covered += b - a; end = b }
      }
      math.max(0L, (to - from) - covered)
    }

    /** Longest over median task duration in the span's heaviest stage. */
    def skew(keep: String => Boolean): Double = {
      val stages = spans.collect { case (n, c) if keep(n) => c.stageTaskMs.values }.flatten
      if (stages.isEmpty) 0.0
      else {
        val heavy = stages.maxBy(_.sum).sorted
        heavy.last.toDouble / math.max(1L, heavy(heavy.size / 2))
      }
    }
  }
}
