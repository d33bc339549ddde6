package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.observe.Metrics

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  /** PipelineSpec's raw fixture: two cities over three days, one OWM
    * record per city and day, under a new temp dir's `raw/`.
    */
  private def rawFixture(): java.nio.file.Path = {
    val base = Files.createTempDirectory("graft_pipe")
    val rawDir = base.resolve("raw").toString
    def obs(city: String, cc: String, day: Int, temp: Double): String =
      s"""{"dt": ${1704067200L + day * 86400}, "city_name": "$city", "country_code": "$cc",
         | "main": {"temp": $temp, "feels_like": $temp, "temp_min": ${temp - 1},
         |          "temp_max": ${temp + 1}, "pressure": 1010, "humidity": 70},
         | "wind": {"speed": 3.0, "deg": 100},
         | "weather": [{"main": "Clear", "description": "clear sky"}]}""".stripMargin.replaceAll("\n", "")
    val lines = (0 until 3).flatMap(d => Seq(
      obs("london", "GB", d, 10.0 + d), obs("tokyo", "JP", d, 5.0 - d)))
    Files.createDirectories(java.nio.file.Paths.get(rawDir))
    Files.write(java.nio.file.Paths.get(rawDir, "batch0.json"),
      lines.mkString("\n").getBytes)
    base
  }

  private def config(base: java.nio.file.Path) = Pipeline.Config(
    rawPath = base.resolve("raw").toString,
    processedPath = base.resolve("processed").toString,
    outputPath = base.resolve("output").toString)

  test("end-to-end: raw JSON -> partitioned parquet -> analyses -> sinks") {
    val base = rawFixture()
    Metrics.reset()
    Metrics.install(spark)
    val res = Pipeline.run(spark, config(base))

    val processed = res.processed.get
    assert(processed.count() === 6)
    assert(processed.columns.length === 17)
    // analyses materialize and make sense
    val trends = res.analyses("trends").collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(trends("london") === "warming" && trends("tokyo") === "cooling")
    // sinks exist on disk, partition layout in place
    assert(new java.io.File(s"${base.resolve("processed")}/city=london").exists())
    assert(new java.io.File(s"${base.resolve("output")}/summary_csv").exists())
    val doc = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"${base.resolve("output")}/analysis_doc.json"))
    assert(doc.contains("\"warmest_city\":\"london\""))
    // S13: the 5 figure SVGs render alongside the analysis doc
    val figDir = new java.io.File(s"${base.resolve("output")}/figures")
    assert(figDir.list().count(_.endsWith(".svg")) === 5)
    // reference-named metrics moved
    assert(Metrics.get(Metrics.PipelineRuns) === 1L)
    assert(Metrics.get(Metrics.LoadSuccesses) === 1L)
    assert(Metrics.get(Metrics.SparkJobsCompleted) > 0L)
    assert(Metrics.get(Metrics.RecordsProcessed) > 0L)
  }

  test("one facts pass per Pipeline.run feeds the document and the figures") {
    val base = rawFixture()
    // root SQL executions started from the facts code
    val factsRuns = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.details.contains("WeatherFacts.scala") && s.rootExecutionId.forall(_ == s.executionId) =>
          factsRuns.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val lap = try Harness.profile(spark, "Pipeline.run")({ Pipeline.run(spark, config(base)); 0L })
      finally spark.sparkContext.removeSparkListener(listener)
    assert(factsRuns.get === 1, lap.report)
    val docAndFigures = lap.jobs.filter(j =>
      Seq("AnalysisDoc.scala", "Figures.scala", "WeatherFacts.scala").exists(j.site.contains))
    assert(docAndFigures.size <= 15, docAndFigures.map(_.site).mkString("\n"))
  }

  test("metrics Source registers and gauges report the counters; repeated install is a no-op") {
    Metrics.reset()
    val (j1, s1) = Metrics.install(spark)
    val (j2, s2) = Metrics.install(spark)
    assert(j1 eq j2)
    assert(s1 eq s2) // same listener pair — no double counting
    val src = Metrics.installSource()
    assert(Metrics.installSource() eq src) // idempotent per JVM
    assert(src.sourceName === "graft_weather")
    // run a job; the listener feeds the counter and the gauge must see it
    Tables.lineitem(spark, "/root/testdata/sf0.001").count()
    val gauge = src.metricRegistry.getGauges.get(Metrics.RecordsProcessed)
    assert(gauge != null, "weather_records_processed gauge missing from Source")
    // listener events are delivered async; poll briefly
    val deadline = System.nanoTime() + 10000000000L
    while (gauge.getValue.asInstanceOf[Long] == 0L && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(gauge.getValue.asInstanceOf[Long] > 0L)
    Metrics.referenceNames.foreach(n =>
      assert(src.metricRegistry.getGauges.containsKey(n), s"gauge $n missing"))
  }

  test("Prometheus HTTP exposition serves the reference metric names") {
    Metrics.inc(Metrics.RecordsProcessed, 5L)
    val port = Metrics.serveHttp(0)
    try {
      assert(Metrics.serveHttp(0) === port) // idempotent, same server
      val body = scala.io.Source.fromURL(
        s"http://127.0.0.1:$port/metrics").mkString
      assert(body.contains("weather_records_processed"))
      assert(body.linesIterator.exists(l =>
        l.startsWith("weather_records_processed ") &&
        l.split(" ")(1).toLong >= 5L))
      assert(body.contains("# TYPE weather_records_processed counter"))
    } finally Metrics.stopHttp()
  }

  test("skip flags short-circuit phases (main.py:140-147 analog)") {
    val base = Files.createTempDirectory("graft_pipe_skip")
    val rawDir = base.resolve("raw").toString
    Files.createDirectories(java.nio.file.Paths.get(rawDir))
    Files.write(java.nio.file.Paths.get(rawDir, "b.json"), "".getBytes)
    val res = Pipeline.run(spark, Pipeline.Config(
      rawPath = rawDir,
      processedPath = base.resolve("p").toString,
      outputPath = base.resolve("o").toString,
      skipTransform = true))
    assert(res.processed.isEmpty && res.analyses.isEmpty)
  }
}
