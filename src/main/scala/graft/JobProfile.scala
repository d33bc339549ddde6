package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Optimization-round profiler: runs named registered queries (one warm
  * lap, then one measured lap) with a listener that records every Spark
  * job's wall time, call site and task count — so a 1.5 s query that is
  * really 14 sequential 100 ms jobs (index meta reads, appends, collects)
  * is diagnosable as such instead of guessed at from plan shape. Dev
  * tool; never part of the driver contract.
  *
  * Usage: scripts/run_main.sh graft.JobProfile s16_ivfpq_append_topk ...
  */
object JobProfile {

  private case class Job(id: Int, t0: Long, site: String,
                         var tEnd: Long = 0L, var tasks: Int = 0, var stages: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.sink.BucketedMirror.withSessionConfs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageTasks = mutable.HashMap[Int, Int]()
    val shuffleBytes = Array(0L, 0L) // (write, read) summed over recorded stages
    val counted = mutable.HashSet[(Int, Int)]() // (stageId, attempt) already summed
    var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val site = Option(e.properties.getProperty("callSite.short")).getOrElse("?")
        jobs.synchronized { jobs(e.jobId) = Job(e.jobId, e.time, site) }
        e.stageIds.foreach(sid => stageTasks.synchronized { stageTasks(sid) = 0 })
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (record) {
        stageTasks.synchronized { stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks }
        // aggregate shuffle bytes (guide §2.3 "shuffle fewer bytes" —
        // the per-query number a narrowing change must move), once per
        // (stageId, attempt) however many completion events it posts
        val m = e.stageInfo.taskMetrics
        if (m != null) shuffleBytes.synchronized {
          if (counted.add((e.stageInfo.stageId, e.stageInfo.attemptNumber()))) {
            shuffleBytes(0) += m.shuffleWriteMetrics.bytesWritten
            shuffleBytes(1) += m.shuffleReadMetrics.totalBytesRead
          }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        jobs.synchronized { jobs.get(e.jobId).foreach(_.tEnd = e.time) }
      }
    })
    // Catalyst phase timings (analysis/optimization/planning) of every
    // root execution — the per-query "planning floor" decomposition
    val phases = mutable.LinkedHashMap[String, Long]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = if (record) {
        phases.synchronized {
          qe.tracker.phases.foreach { case (p, s) =>
            phases(p) = phases.getOrElse(p, 0L) + (s.endTimeMs - s.startTimeMs)
          }
          phases("TOTAL_exec") = phases.getOrElse("TOTAL_exec", 0L) + durationNs / 1000000
        }
      }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[JobProfile] unknown query: $name")
        case Some(fn) =>
          fn(spark, sfDir).count() // warm lap: artifacts built, code compiled
          jobs.clear(); stageTasks.clear()
          shuffleBytes.synchronized { shuffleBytes(0) = 0L; shuffleBytes(1) = 0L; counted.clear() }
          phases.synchronized { phases.clear() }
          record = true
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          record = false
          // listener events are async; give the bus a beat to drain
          Thread.sleep(300)
          val snap = jobs.synchronized { jobs.values.toSeq }
          val jobSum = snap.map(j => (j.tEnd - j.t0) / 1e3).sum
          val (sw, sr) = shuffleBytes.synchronized { (shuffleBytes(0), shuffleBytes(1)) }
          println(f"== $name%s rows=$n%d wall=$wall%.3f s, ${snap.size}%d jobs (sum ${jobSum}%.3f s, gaps ${wall - jobSum}%.3f s, shuffle w=${sw / 1024.0 / 1024.0}%.2f MiB r=${sr / 1024.0 / 1024.0}%.2f MiB)")
          snap.sortBy(j => -(j.tEnd - j.t0)).take(8).foreach { j =>
            println(f"   job ${j.id}%3d  ${(j.tEnd - j.t0) / 1e3}%7.3f s  ${j.site}%s")
          }
          val ph = phases.synchronized { phases.toSeq }
          if (ph.nonEmpty)
            println("   phases: " + ph.map { case (p, ms) => s"$p=${ms}ms" }.mkString(" "))
      }
    }
    spark.stop()
  }
}
