package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw during one timed window (a row's builder
  * call or its action). Times are epoch milliseconds as Spark reports
  * them; task metrics are summed over the window's tasks. */
final class Window {
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val queries = mutable.ArrayBuffer.empty[Query]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillMemBytes = 0L
  var spillDiskBytes = 0L
  var peakExecMemBytes = 0L
}

final case class Job(id: Int, callSite: String, start: Long, var end: Long = -1L)
final case class Stage(id: Int, name: String, start: Long, end: Long, tasks: Int)
/** One finished Catalyst query: its action name, the three planning
  * phase durations from `qe.tracker.phases`, and the execution time
  * the listener reports. */
final case class Query(func: String, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, durationNs: Long, files: Long, bytes: Long)

/** SparkListener + QueryExecutionListener that keep everything in
  * memory. Events arrive on the listener bus thread; the harness drains
  * the bus and then calls [[take]] to claim the events of the window
  * that just closed. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private var current = new Window
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val openJobs = mutable.HashMap.empty[Int, Job]

  def take(): Window = synchronized { val w = current; current = new Window; w }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The result stage carries the job's call site ("parquet at
    // Tables.scala:23"), the same name the Spark UI shows.
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = Job(e.jobId, site, e.time)
    openJobs(e.jobId) = j
    current.jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val start = stageSubmitted.remove(i.stageId).getOrElse(i.submissionTime.getOrElse(-1L))
    current.stages += Stage(i.stageId, i.name, start,
      i.completionTime.getOrElse(System.currentTimeMillis()), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = current
    w.tasks += 1
    // Time the task waited for a core: stage submission to launch.
    stageSubmitted.get(e.stageId).foreach(s =>
      w.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.spillMemBytes += m.memoryBytesSpilled
      w.spillDiskBytes += m.diskBytesSpilled
      w.peakExecMemBytes = math.max(w.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val q = Recorder.query(func, qe, durationNs)
    synchronized { current.queries += q }
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Recorder extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def phaseMs(qe: QueryExecution, name: String): Long =
    qe.tracker.phases.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)

  /** Files and bytes a write command reports in its SQL metrics; zero
    * for queries that write nothing. The walk descends into adaptive
    * plans, where a write under a shuffle sits. */
  private def written(qe: QueryExecution): (Long, Long) = {
    var files = 0L; var bytes = 0L
    try foreach(qe.executedPlan) {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        w.metrics.get("numFiles").foreach(files += _.value)
        w.metrics.get("numOutputBytes").foreach(bytes += _.value)
      case _ => ()
    } catch { case _: Throwable => () }
    (files, bytes)
  }

  def query(func: String, qe: QueryExecution, durationNs: Long): Query = {
    val (files, bytes) = written(qe)
    Query(func, phaseMs(qe, "analysis"), phaseMs(qe, "optimization"),
      phaseMs(qe, "planning"), durationNs, files, bytes)
  }
}
