package graft

import java.util.Locale
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.util.control.NonFatal

/** The run harness the mains share (Bench, Verify, ScaleProbe,
  * ExplainAudit, and the specs' session): one session, one query
  * selection, one best-of-N timer, and one job ledger over Spark's own
  * listener events.
  *
  * Its own entry point is the per-query profile: each named registered
  * query (all of them with no args) runs one unprofiled warm lap
  * (artifacts built, code compiled), then one measured lap under the job
  * ledger ([[profile]]) — so a 1.5 s query that is really 14 sequential
  * 100 ms jobs (index meta reads, appends, collects) is diagnosable as
  * such instead of guessed at from plan shape. A dev tool: its report is
  * not a stable interface.
  *
  * Usage: scripts/run_main.sh graft.Harness s16_ivfpq_append_topk ...
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else the main's own default. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** The one session shape: `local[cpus]` with `cpus` shuffle partitions,
    * UTC (matching the DuckDB oracle compare), no UI, the bucketed-mirror
    * confs, plus a main's own `extraConfs`.
    */
  def session(cpus: Int, extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.sink.BucketedMirror.withSessionConfs(
      extraConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }).getOrCreate()
  }

  /** The comma-separated names in environment variable `key` (none when unset). */
  def names(key: String): Seq[String] =
    sys.env.get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The entries of `registry` named in `names`, or all of it when `names`
    * is empty. Every unknown name warns on stderr as `[who] unknown query:`
    * — a silent empty filter would produce a zero-work "successful" run
    * that reads as a real one.
    */
  def select[A](names: Seq[String], registry: Map[String, A], who: String): Map[String, A] = {
    names.filterNot(registry.contains)
      .foreach(n => System.err.println(s"[$who] unknown query: $n"))
    if (names.isEmpty) registry else registry.filter { case (n, _) => names.contains(n) }
  }

  /** Wall seconds of the fastest of `n` runs of `f`, over the runs that
    * succeeded only: a run that throws fast must not record its tiny
    * time-to-exception as the best time. Each failure goes to `onFail`
    * (by default rethrown, failing the caller loudly); None says that
    * every run failed. Min-of-N is the robust estimator for this box's
    * one-sided noise (contention, bursty CPU steal, first-run codegen).
    */
  def bestOf(n: Int, onFail: Throwable => Unit = e => throw e)(f: => Any): Option[Double] =
    (1 to n.max(1)).flatMap { _ =>
      val t0 = System.nanoTime()
      try { f; Some((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) => onFail(e); None }
    }.minOption

  /** Warm the session (codegen compiler, shuffle machinery, parquet footer
    * caches) so the first timed query isn't charged ~3 s of one-time JVM
    * and session initialization.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, sfDir).limit(1).count()
    } catch { case NonFatal(_) => () }

  /** One job of a measured lap: epoch-ms start and end, and its call site
    * followed by its final stage's operator scope in brackets.
    */
  final case class Job(id: Int, start: Long, end: Long, site: String) {
    def seconds: Double = (end - start) / 1e3
  }

  /** What the ledger saw of one measured lap. `gapS` is the wall time no
    * job covers (driver work: Catalyst, scheduling, collects); overlapping
    * jobs (broadcasts, subqueries) are covered once.
    */
  final case class Profile(name: String, rows: Long, wallS: Double, jobs: Seq[Job],
                           gapS: Double, stages: Int, tasks: Int, taskS: Double,
                           shuffleWrite: Long, shuffleRead: Long, phases: Seq[(String, Long)]) {
    def report: String = {
      def f3(v: Double) = "%.3f".formatLocal(Locale.ROOT, v)
      def mib(b: Long) = "%.2f".formatLocal(Locale.ROOT, b / 1024.0 / 1024.0)
      val head = s"== $name rows=$rows wall=${f3(wallS)} s, ${jobs.size} jobs " +
        s"(sum ${f3(jobs.map(_.seconds).sum)} s, gaps ${f3(gapS)} s), $stages stages, " +
        s"$tasks tasks (${f3(taskS)} s), shuffle w=${mib(shuffleWrite)} MiB r=${mib(shuffleRead)} MiB"
      val top = jobs.sortBy(-_.seconds).take(8).map(j =>
        "   job %3d  %7.3f s  %s".formatLocal(Locale.ROOT, j.id, j.seconds, j.site))
      val ph = phases.map { case (p, ms) => s"$p=${ms}ms" }
      (Seq(head) ++ top ++ Option.when(ph.nonEmpty)("   phases: " + ph.mkString(" "))).mkString("\n")
    }
  }

  /** Runs `lap` (returning its row count) as the measured lap `name`
    * under a fresh ledger. The listener bus is drained before the ledger
    * registers and before it is read, and only jobs started under the
    * lap's own job group count (broadcast and subquery jobs inherit it),
    * so a previous lap's late events never leak in.
    */
  def profile(spark: SparkSession, name: String)(lap: => Long): Profile = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val ledger = new Ledger(s"graft-harness-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(ledger)
    spark.listenerManager.register(ledger)
    try {
      sc.setJobGroup(ledger.group, s"harness: $name")
      val t0 = System.currentTimeMillis()
      val rows = try lap finally sc.clearJobGroup()
      val t1 = System.currentTimeMillis()
      ListenerBus.drain(sc)
      ledger.profile(name, rows, t0, t1)
    } finally {
      sc.removeSparkListener(ledger)
      spark.listenerManager.unregister(ledger)
    }
  }

  /** One lap's listener. Each stage counts once per (stageId, attempt) and
    * each task once per task id, however many events repeat them; Catalyst
    * phases are summed over the lap's executions.
    */
  private final class Ledger(val group: String) extends SparkListener with QueryExecutionListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val execSites = mutable.HashMap[Long, String]()
    private val stageIds = mutable.HashSet[Int]()
    private val stages = mutable.HashSet[(Int, Int)]()
    private val tasks = mutable.HashSet[Long]()
    private var taskMs, shuffleWrite, shuffleRead = 0L
    private val phases = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        programSite(s.details).foreach(execSites(s.executionId) = _)
      }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (ListenerBus.jobGroup(e.properties).contains(group)) {
        // a job of a SQL execution is named after that execution's call
        // site: the jobs AQE, broadcasts and subqueries start on Spark's
        // own threads carry no program frame. Other jobs take their final
        // stage's name, the job's short call site ("count at X.scala:12").
        // The final stage's operator scope then says which plan node the
        // job runs ("[Exchange]", "[BroadcastExchange]", ...).
        val last = e.stageInfos.sortBy(_.stageId).lastOption
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => execSites.get(id.toLong))
          .getOrElse(last.fold("?")(_.name))
        val scope = last.flatMap(ListenerBus.operatorScope).fold("")(s => s" [$s]")
        jobs(e.jobId) = Job(e.jobId, e.time, e.time, site + scope)
        stageIds ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      if (stageIds(info.stageId) && stages.add((info.stageId, info.attemptNumber())))
        Option(info.taskMetrics).foreach { m =>
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId) && tasks.add(e.taskInfo.taskId))
        Option(e.taskMetrics).foreach(taskMs += _.executorRunTime)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        qe.tracker.phases.foreach { case (p, s) => phases(p) += s.endTimeMs - s.startTimeMs }
        phases("TOTAL_exec") += durationNs / 1000000
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def profile(name: String, rows: Long, t0: Long, t1: Long): Profile = synchronized {
      // the union of the job intervals within [t0, t1]
      var covered = 0L
      var reach = t0
      for (j <- jobs.values.toSeq.sortBy(_.start)) {
        val a = math.max(j.start, reach); val b = math.min(j.end, t1)
        if (b > a) covered += b - a
        reach = math.max(reach, j.end)
      }
      Profile(name, rows, (t1 - t0) / 1e3, jobs.values.toSeq, (t1 - t0 - covered) / 1e3,
        stages.size, tasks.size, taskMs / 1e3, shuffleWrite, shuffleRead, phases.toSeq)
    }
  }

  private val ProgramFrame = """(?m)^graft\.[\w.$]+\((\w+\.scala:\d+)\)""".r

  /** A call site's short form, "count at X.scala:12", from its long form
    * (one stack frame a line, the Spark method first): that method and
    * the first program frame, or None when no frame is the program's.
    */
  private[graft] def programSite(details: String): Option[String] = {
    val d = Option(details).getOrElse("")
    ProgramFrame.findFirstMatchIn(d).map(m =>
      s"${d.takeWhile(_ != '(').split('.').last} at ${m.group(1)}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, sfDir)
    select(args.toSeq, SparkEntry.queries, "Harness").foreach { case (name, fn) =>
      fn(spark, sfDir).count() // warm lap: artifacts built, code compiled
      println(profile(spark, name)(fn(spark, sfDir).count()).report)
    }
    spark.stop()
  }
}
