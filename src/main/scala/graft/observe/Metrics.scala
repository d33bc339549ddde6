package graft.observe

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability parity (SURVEY §2.12): the reference instruments every
  * stage with Prometheus counters/gauges/histograms (main.py:28-30,
  * extract.py:39-42, transform.py:27-32, load.py:26-29). Here the same
  * metric NAMES are fed from Spark's own event stream — a SparkListener for
  * batch jobs and a StreamingQueryListener for streams — so dashboards
  * written against the reference keep working. Counters are in-process
  * LongAdders exposed as a snapshot map; wiring them to a Prometheus
  * registry or Spark's metrics Source is a sink detail, not a plan detail.
  */
object Metrics {

  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def inc(name: String, by: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder()).add(by)

  def get(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def snapshot(): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counters.forEach((k, v) => b += k -> v.sum())
    b.result()
  }

  def reset(): Unit = counters.clear()

  // Reference metric names (§2.12)
  val PipelineRuns = "weather_pipeline_runs"
  val PipelineFailures = "weather_pipeline_failures"
  val ExtractSuccesses = "weather_extract_successes"
  val ExtractFailures = "weather_extract_failures"
  val RecordsProcessed = "weather_records_processed"
  val OutliersDetected = "weather_outliers_detected"
  val AnalysisRuns = "weather_analysis_runs"
  val LoadSuccesses = "weather_load_successes"
  val SparkJobsCompleted = "spark_jobs_completed"
  val SparkTasksCompleted = "spark_tasks_completed"
  val SparkRecordsRead = "spark_records_read"
  val StreamBatchesCompleted = "stream_batches_completed"
  val StreamRowsProcessed = "stream_rows_processed"
  val StreamWindowsWritten = "weather_stream_windows_written"
  val StreamRowsQuarantined = "weather_stream_rows_quarantined"

  /** Batch-side listener: counts jobs/tasks and input records from Spark's
    * task metrics — `weather_records_processed` comes from the engine, not
    * from manual increments sprinkled through operators.
    */
  final class JobMetricsListener extends SparkListener {
    override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit =
      inc(SparkJobsCompleted)
    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      inc(SparkTasksCompleted)
      val tm = taskEnd.taskMetrics
      if (tm != null) {
        inc(SparkRecordsRead, tm.inputMetrics.recordsRead)
        inc(RecordsProcessed, tm.inputMetrics.recordsRead)
      }
    }
  }

  /** Streaming-side listener: per-micro-batch progress counters. */
  final class StreamMetricsListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      inc(StreamBatchesCompleted)
      inc(StreamRowsProcessed, e.progress.numInputRows)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** All reference-named metrics (the set the Grafana dashboard queries). */
  val referenceNames: Seq[String] = Seq(
    PipelineRuns, PipelineFailures, ExtractSuccesses, ExtractFailures,
    RecordsProcessed, OutliersDetected, AnalysisRuns, LoadSuccesses,
    SparkJobsCompleted, SparkTasksCompleted, SparkRecordsRead,
    StreamBatchesCompleted, StreamRowsProcessed, StreamWindowsWritten,
    StreamRowsQuarantined)

  /** Register the counters as a Spark metrics Source (gauges named after
    * the reference's Prometheus metrics) — scrape-able through whatever
    * sink the cluster's metrics.properties wires, incl. Spark's built-in
    * PrometheusServlet. Idempotent per JVM.
    */
  def installSource(): org.apache.spark.sql.graft.GraftMetricsSource =
    org.apache.spark.sql.graft.GraftMetricsSource.register(referenceNames, get _)

  /** Prometheus text-format exposition of the current counter values —
    * the body the reference's metrics HTTP server returns
    * (utils.py:161-173, scraped per monitoring/prometheus.yml).
    */
  def exposition(): String =
    snapshot().toSeq.sortBy(_._1).map { case (k, v) =>
      s"# TYPE $k counter\n$k $v"
    }.mkString("", "\n", "\n")

  @volatile private var httpServer: Option[com.sun.net.httpserver.HttpServer] = None

  /** Serve [[exposition]] at /metrics (reference twin: prometheus_client
    * `start_http_server`, utils.py:161-173; port from config.yaml:38).
    * Returns the bound port (pass 0 for ephemeral). Idempotent. Binds
    * loopback by default — exposing internal counters on every interface
    * is an opt-in (`host` param), not a side effect.
    */
  def serveHttp(port: Int = 0, host: String = "127.0.0.1"): Int = synchronized {
    httpServer match {
      case Some(s) => s.getAddress.getPort
      case None =>
        val srv = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress(host, port), 0)
        srv.createContext("/metrics", (ex: com.sun.net.httpserver.HttpExchange) => {
          val body = exposition().getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.getResponseHeaders.add("Content-Type",
            "text/plain; version=0.0.4; charset=utf-8")
          ex.sendResponseHeaders(200, body.length)
          val os = ex.getResponseBody
          try os.write(body) finally os.close()
        })
        srv.start()
        httpServer = Some(srv)
        srv.getAddress.getPort
    }
  }

  def stopHttp(): Unit = synchronized {
    httpServer.foreach(_.stop(0)); httpServer = None
  }

  // weak keys: a stopped context or dereferenced session must be
  // collectable — a strong static map would leak every one a long-lived
  // JVM creates
  private val jobListeners =
    new java.util.WeakHashMap[SparkContext, JobMetricsListener]()
  private val streamListeners =
    new java.util.WeakHashMap[SparkSession, StreamMetricsListener]()

  /** Install both listeners for a session; `Pipeline.run` and
    * `StreamingPipeline.startRouted` call it. The job listener is keyed by
    * the SparkContext, which every session on it shares, so a second
    * session never adds a second listener that would count each job and
    * task twice. The stream listener is keyed by the session, because
    * `spark.streams` is per session. Idempotent.
    */
  def install(spark: SparkSession): (JobMetricsListener, StreamMetricsListener) =
    synchronized {
      val j = jobListeners.computeIfAbsent(spark.sparkContext, sc => {
        val l = new JobMetricsListener
        sc.addSparkListener(l)
        l
      })
      val st = streamListeners.computeIfAbsent(spark, s => {
        val l = new StreamMetricsListener
        s.streams.addListener(l)
        l
      })
      (j, st)
    }
}
