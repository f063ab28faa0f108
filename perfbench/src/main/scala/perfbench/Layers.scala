package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of a traced run, kept in memory and written out at the end. Times
  * are epoch milliseconds; `op` is -1 where the op is found by time window
  * (executor-side FileSystem calls).
  */
final case class Span(layer: String, name: String, start: Double, end: Double, op: Long)

object Spans {
  @volatile var enabled = false
  val MaxSpans = 500000
  private val q = new ConcurrentLinkedQueue[Span]()
  private val count = new java.util.concurrent.atomic.AtomicInteger()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nanoToEpochMs(t: Long): Double = epoch0 + (t - nano0) / 1e6

  def add(s: Span): Unit = if (enabled && count.incrementAndGet() <= MaxSpans) q.add(s)

  def fs(name: String, t0: Long, t1: Long): Unit =
    if (enabled) add(Span("storage", name, nanoToEpochMs(t0), nanoToEpochMs(t1), -1L))

  def drain(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var s = q.poll()
    while (s != null) { out += s; s = q.poll() }
    out.toSeq
  }
}

/** Per-op Spark-job and Catalyst totals. A traced run drains the listener
  * bus after every op, so everything posted since the last drain is the op's.
  */
final class OpLayers {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var taskWaitMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Jobs not in the job group of the op running when they were delivered. */
  var foreignJobs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L; var executions = 0L
}

final class LayerListener(currentOp: () => Long) extends SparkListener
    with QueryExecutionListener {
  @volatile var acc = new OpLayers
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.stripPrefix("op-").toLongOption).getOrElse(currentOp())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (!group.contains(s"op-${currentOp()}")) acc.foreignJobs += 1
    jobStart(e.jobId) = (e.time, opOf(e.properties))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, op) =>
      acc.jobs += 1
      acc.jobIntervals += ((t0, e.time))
      Spans.add(Span("job", s"job-${e.jobId}", t0.toDouble, e.time.toDouble, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    acc.stages += 1
    for (s <- si.submissionTime; c <- si.completionTime)
      Spans.add(Span("stage", s"stage-${si.stageId}", s.toDouble, c.toDouble, currentOp()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    if (e.taskInfo.failed) acc.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.taskRunMs += m.executorRunTime
      acc.taskCpuNs += m.executorCpuTime
      acc.taskWaitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    acc.executions += 1
    val op = currentOp()
    qe.tracker.phases.foreach { case (phase, s) =>
      val ms = s.durationMs
      phase match {
        case "analysis" => acc.analysisMs += ms
        case "optimization" => acc.optimizationMs += ms
        case "planning" => acc.planningMs += ms
        case _ =>
      }
      Spans.add(Span("catalyst", phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble, op))
    }
  }

  /** Swap in a fresh accumulator; the old one belongs to the op just ended. */
  def take(): OpLayers = synchronized { val a = acc; acc = new OpLayers; a }
}
