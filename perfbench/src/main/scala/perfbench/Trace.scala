package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Job and stage recorder for traced runs. It keys everything by the job
 * descriptions the engine already sets (`graft:<stage>[/<batch>]` around
 * every checkpointed stage, `probe:<label>` around every probe fetch), so
 * it needs no hook inside the engine. Job intervals use the scheduler's
 * own event times, so late listener delivery does not skew them.
 */
final class Trace extends SparkListener {

  private final case class Job(label: String, start: Long, end: Long, stages: Seq[Int])
  private final case class StageM(tasks: Int, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  // a stage shared by several jobs belongs to the first job that lists it
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageM]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    jobs.put(e.jobId, Job(Stats.labelOf(desc), e.time, -1L, e.stageIds))
    e.stageIds.foreach(stageOwner.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(i.taskMetrics).foreach { m =>
      stages.put(i.stageId, StageM(i.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Wait until every started job has reported its end (events arrive on
    * the listener bus after the action that caused them returns). */
  def awaitQuiet(timeoutMs: Long): Unit = {
    val t0 = System.currentTimeMillis()
    while (jobs.values.asScala.exists(_.end < 0) &&
        System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(20)
  }

  /** Jobs that started inside `windows`, as (label, interval). A job still
    * open at summary time is cut at the end of the last window. */
  def jobsIn(windows: Seq[Stats.Interval]): Seq[(Int, String, Stats.Interval)] = {
    val lastEnd = if (windows.isEmpty) 0L else windows.map(_._2).max
    jobs.asScala.toSeq.collect {
      case (id, j) if windows.exists { case (s, e) => j.start >= s && j.start <= e } =>
        (id, j.label, (j.start, if (j.end < 0) lastEnd else j.end))
    }
  }

  final case class LabelFigures(wallS: Double, cpuS: Double, stages: Int, shuffleMb: Double)

  /** `openJobs`: jobs in the windows with no end event, whose intervals
    * were cut at the last window's end. */
  final case class Summary(acc: Stats.Accounting, jobs: Int, openJobs: Int, stages: Int,
      tasks: Int, cpuS: Double, gcS: Double, shuffleMb: Double, spillMb: Double,
      labels: Map[String, LabelFigures]) {
    def wallS: Double = acc.wall / 1e3
    def gapS: Double = acc.gap / 1e3
    def coreUtil(cores: Int): Double = if (acc.wall == 0) 0.0 else cpuS / (wallS * cores)
  }

  def summary(windows: Seq[Stats.Interval], quietMs: Long = 10000L): Summary = {
    awaitQuiet(quietMs)
    val js = jobsIn(windows)
    val open = jobs.asScala.count { case (id, j) => j.end < 0 && js.exists(_._1 == id) }
    val acc = Stats.account(js.map(j => (j._2, j._3)), windows)
    val jobIds = js.map(_._1).toSet
    val labelOfJob = js.map(j => j._1 -> j._2).toMap
    // completed stages owned by a job in the windows, with that job's label
    val owned = stages.asScala.toSeq.flatMap { case (sid, m) =>
      Option(stageOwner.get(sid)).map(_.intValue).filter(jobIds).map(j => (labelOfJob(j), m))
    }
    val mb = 1024.0 * 1024.0
    val byLabel = owned.groupBy(_._1)
    val labels = acc.labels.map { case (l, wall) =>
      val ms = byLabel.getOrElse(l, Nil).map(_._2)
      l -> LabelFigures(wall / 1e3, ms.map(_.cpuNs).sum / 1e9, ms.size,
        ms.map(_.shuffleBytes).sum / mb)
    }
    val ms = owned.map(_._2)
    Summary(acc, js.size, open, ms.size, ms.map(_.tasks).sum, ms.map(_.cpuNs).sum / 1e9,
      ms.map(_.gcMs).sum / 1e3, ms.map(_.shuffleBytes).sum / mb,
      ms.map(_.spillBytes).sum / mb, labels)
  }
}
