package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work counters from Spark's own listener events, registered only for
  * traced runs.
  *
  * Every task attempt (by task id) and every stage attempt (by stage id and
  * attempt number) is counted once, whatever events repeat; retried and
  * failed task attempts are counted apart. Each job is attributed to the
  * source file of the first program frame (`graft.*`) of its call site, and,
  * when the job was started under a `perfbench.tag` local property, to that
  * tag.
  */
final class Ledger extends SparkListener with QueryExecutionListener {

  final class Counts {
    var jobs, stages, stagesFailed, tasks, tasksFailed, tasksRetried = 0L
    var taskMs, inputBytes, shuffleWriteBytes, spillBytes = 0L
  }

  private val bySite = mutable.HashMap[String, Counts]()
  private val byTag = mutable.HashMap[String, Counts]()
  private val total = new Counts
  private val jobKeys = mutable.HashMap[Int, (String, String)]()
  private val execSite = mutable.HashMap[Long, String]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val seenTasks = mutable.HashSet[Long]()
  private val seenStages = mutable.HashSet[(Int, Int)]()
  private var catalystNanos = 0L

  private val Frame = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** Source file (without `.scala`) of the first program frame. */
  def siteOf(details: String): String =
    Frame.findFirstMatchIn(Option(details).getOrElse("")).map(_.group(1)).getOrElse("other")

  private def countsFor(job: Int): Seq[Counts] = jobKeys.get(job) match {
    case Some((site, tag)) =>
      Seq(total, bySite.getOrElseUpdate(site, new Counts)) ++
        Option(tag).map(t => byTag.getOrElseUpdate(t, new Counts))
    case None => Seq(total)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val own = siteOf(s.details)
      execSite(s.executionId) =
        if (own != "other") own
        else s.rootExecutionId.flatMap(execSite.get).getOrElse(own)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // Jobs of one SQL execution may start on Spark's own threads (broadcasts,
    // subqueries), whose call site holds no program frame: those take the
    // call site of the execution that started them.
    val own = siteOf(e.stageInfos.maxBy(_.stageId).details)
    val site = if (own != "other") own
      else prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong)).getOrElse(own)
    jobKeys(e.jobId) = (site, prop("perfbench.tag").orNull)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobStart(e.jobId) = e.time
    countsFor(e.jobId).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (seenStages.add((info.stageId, info.attemptNumber()))) {
      val cs = stageJob.get(info.stageId).map(countsFor).getOrElse(Seq(total))
      cs.foreach { c =>
        c.stages += 1
        if (info.failureReason.isDefined) c.stagesFailed += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (seenTasks.add(e.taskInfo.taskId)) {
      val cs = stageJob.get(e.stageId).map(countsFor).getOrElse(Seq(total))
      val m = Option(e.taskMetrics)
      cs.foreach { c =>
        c.tasks += 1
        if (!e.taskInfo.successful) c.tasksFailed += 1
        if (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative) c.tasksRetried += 1
        m.foreach { tm =>
          c.taskMs += tm.executorRunTime
          c.inputBytes += tm.inputMetrics.bytesRead
          c.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          c.spillBytes += tm.diskBytesSpilled
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)
  private def addPhases(qe: QueryExecution): Unit = synchronized {
    catalystNanos += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }

  def register(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def totals: Counts = synchronized(total)
  def site(name: String): Counts = synchronized(bySite.getOrElse(name, new Counts))
  def tag(name: String): Counts = synchronized(byTag.getOrElse(name, new Counts))
  def catalystMs: Double = catalystNanos / 1e6

  /** Seconds of `[t0, t1]` (epoch ms) covered by no job. */
  def uncoveredSeconds(t0: Long, t1: Long): Double = synchronized {
    var covered = 0L
    var reach = t0
    for ((s, e) <- intervals.sortBy(_._1)) {
      val a = math.max(s, reach); val b = math.min(e, t1)
      if (b > a) covered += b - a
      reach = math.max(reach, e)
    }
    (t1 - t0 - covered) / 1000.0
  }

  /** The whole-run counters as metrics named `<prefix>.<counter>`. */
  def metrics(prefix: String, t0: Long, t1: Long): Seq[Metric] = {
    val c = totals
    Seq(
      Metric(s"$prefix.jobs", c.jobs.toDouble, "count"),
      Metric(s"$prefix.stages", c.stages.toDouble, "count"),
      Metric(s"$prefix.stages_failed", c.stagesFailed.toDouble, "count"),
      Metric(s"$prefix.tasks", c.tasks.toDouble, "count"),
      Metric(s"$prefix.task_s", c.taskMs / 1000.0, "s"),
      Metric(s"$prefix.driver_gap_s", uncoveredSeconds(t0, t1), "s"),
      Metric(s"$prefix.catalyst_ms", catalystMs, "ms"),
      Metric(s"$prefix.input_bytes", c.inputBytes.toDouble, "bytes"),
      Metric(s"$prefix.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes"),
      Metric(s"$prefix.spill_bytes", c.spillBytes.toDouble, "bytes"),
      Metric(s"$prefix.tasks_failed", c.tasksFailed.toDouble, "count"),
      Metric(s"$prefix.tasks_retried", c.tasksRetried.toDouble, "count"))
  }
}
