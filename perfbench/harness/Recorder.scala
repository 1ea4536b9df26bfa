package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's recorder: a SparkListener owned by the benchmark.
  *
  * The harness tags every phase it times with a span id (a Spark local
  * property, inherited by every job the phase starts); the listener files
  * each job, stage and task under the span that started it. Everything is
  * kept in memory; [[Harness]] writes one record when the run ends.
  */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = mutable.Map.empty[Int, JobSpan]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stats = mutable.Map.empty[String, SpanStats]

  private def statsOf(span: String): SpanStats = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    jobs(e.jobId) = JobSpan(span, e.time, -1L)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => statsOf(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { span =>
      val s = statsOf(span)
      val info = e.taskInfo
      val wall = info.finishTime - info.launchTime
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.deserMs += m.executorDeserializeTime
      s.gcMs += m.jvmGCTime
      s.schedDelayMs += math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.rowsRead += m.inputMetrics.recordsRead
      val st = s.stageRun.getOrElseUpdate(e.stageId, new StageRun)
      st.n += 1; st.sum += m.executorRunTime; st.max = math.max(st.max, m.executorRunTime)
    }
  }

  /** Totals of the spans whose id satisfies `p`. */
  def summary(p: String => Boolean): Summary = synchronized {
    val js = jobs.values.filter(j => p(j.span) && j.end >= 0).toSeq
    val ss = stats.collect { case (k, v) if p(k) => v }.toSeq
    val stagesRun = ss.flatMap(_.stageRun.values).filter(_.n > 1)
    Summary(
      jobs = js.size,
      jobUnionS = union(js.map(j => (j.start, j.end))) / 1e3,
      stages = ss.map(_.stages).sum,
      tasks = ss.map(_.tasks).sum,
      taskBusyS = ss.map(_.runMs).sum / 1e3,
      taskDeserS = ss.map(_.deserMs).sum / 1e3,
      schedDelayS = ss.map(_.schedDelayMs).sum / 1e3,
      gcS = ss.map(_.gcMs).sum / 1e3,
      shuffleBytes = ss.map(_.shuffleBytes).sum,
      spillBytes = ss.map(_.spillBytes).sum,
      rowsRead = ss.map(_.rowsRead).sum,
      // slowest task over mean task, summed over stages with more than
      // one task (1.0 = perfectly even)
      taskSkew =
        if (stagesRun.isEmpty) 1.0
        else stagesRun.map(_.max.toDouble).sum /
          math.max(1e-9, stagesRun.map(s => s.sum.toDouble / s.n).sum))
  }
}

object Recorder {
  val SpanKey = "perfbench.span"

  final case class JobSpan(span: String, start: Long, end: Long)

  final class StageRun { var n = 0L; var sum = 0L; var max = 0L }

  final class SpanStats {
    var stages, tasks, runMs, deserMs, gcMs, schedDelayMs = 0L
    var shuffleBytes, spillBytes, rowsRead = 0L
    val stageRun = mutable.Map.empty[Int, StageRun]
  }

  final case class Summary(jobs: Int, jobUnionS: Double, stages: Long, tasks: Long,
      taskBusyS: Double, taskDeserS: Double, schedDelayS: Double, gcS: Double,
      shuffleBytes: Long, spillBytes: Long, rowsRead: Long, taskSkew: Double)

  /** Length of the union of [start, end] intervals, in their unit. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Run `body` with every job it starts tagged `span`. */
  def tagged[T](sc: SparkContext, span: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}
