package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.analyze.{AnalysisDoc, Analytics}
import graft.ingest.Ingest
import graft.schema.WeatherSchema
import graft.sink.{Figures, Sinks}

/** `batch_dense`: `graft.Pipeline.run` from raw OWM JSON to every sink, the
  * analysis document and the figures, over the reference's five cities
  * polled every five minutes for two days (2,880 records, 10
  * `(city, date)` partitions).
  */
object BatchBench {
  val Shape = OwmGen.BatchShape(cities = 5, pollSeconds = 300, days = 2)

  /** Output-check result of one `Pipeline.run`. */
  final case class Checked(rows: Long, partitions: Int, digest: Long)

  private def config(raw: Path, out: Path): Pipeline.Config =
    Pipeline.Config(raw.toString, out.resolve("processed").toString,
      out.resolve("output").toString)

  /** Row count, partition directories and digest of every output. */
  def inspect(spark: SparkSession, out: Path): Checked = {
    val processed = out.resolve("processed")
    val rows = spark.read.parquet(processed.toString).count()
    val parts = Fs.dirs(processed, 2).size
    val digest = Digest.parquet(spark, processed) + Digest.textTree(out.resolve("output"))
    Checked(rows, parts, digest)
  }

  def run(a: Args): Outcome = {
    val tally = new Tally
    val expected = Expected.digest(a.workload, a.seed)
    var spark: SparkSession = null
    var input: OwmGen.BatchInput = null
    var reference: Option[Checked] = None

    def checkOutputs(label: String, out: Path): Unit = {
      val c = inspect(spark, out)
      tally.check(s"$label: rows ${c.rows} == valid rows ${input.validRows}")(c.rows == input.validRows)
      tally.check(s"$label: partitions ${c.partitions} == cities x days")(
        c.partitions == Shape.cities * Shape.days)
      reference match {
        case None =>
          reference = Some(c)
          System.err.println(s"[perfbench] ${a.workload} seed ${a.seed} digest ${Digest.hex(c.digest)}")
          expected.foreach(e =>
            tally.check(s"$label: digest ${Digest.hex(c.digest)} == recorded $e")(Digest.hex(c.digest) == e))
        case Some(r) =>
          tally.check(s"$label: digest equals the run's first digest")(c.digest == r.digest)
      }
    }

    // Set-up, three times: a fresh session, the seeded input written anew
    // (it must come out byte-identical), and one materialization of the
    // ingest and clean layers.
    val setups = (1 to 3).map { rep =>
      val t0 = if (rep == 1) Main.processStart else Clock.now
      if (spark != null) Session.stop(spark)
      spark = Session.start(a)
      val in = OwmGen.writeBatch(a.seed, Shape, a.work.resolve(s"raw-$rep"))
      if (input == null) input = in
      else tally.check("the same seed wrote byte-identical input")(in.sha256 == input.sha256)
      Ingest.transform(Ingest.readRawJson(spark, in.dir.toString))
        .write.format("noop").mode("overwrite").save()
      Clock.log(s"set-up $rep done")
      Clock.now - t0
    }
    // One untimed Pipeline.run, so the timed ones run on compiled code.
    val warm = Fs.fresh(a.work.resolve("warmup"))
    tally.check("warm-up run")({ Pipeline.run(spark, config(input.dir, warm)); true })
    checkOutputs("warm-up run", warm)
    Clock.log("warm-up run done")
    val raw = input.dir

    val heapPeaks = scala.collection.mutable.ArrayBuffer[Double]()
    def timedRun(k: Int): Double = {
      val out = Fs.fresh(a.work.resolve(s"out-${k % 2}"))
      Heap.reset()
      val (_, dt) = Clock.time(Pipeline.run(spark, config(raw, out)))
      heapPeaks += Heap.peakMb
      Clock.log(f"run $k: $dt%.2f s")
      checkOutputs(s"run $k", out)
      Clock.log(s"run $k checked")
      dt
    }

    val e2e: Seq[Metric] =
      if (!a.trace) {
        val times = scala.collection.mutable.ArrayBuffer[Double]()
        val start = Clock.now
        // until the time is up and two runs succeeded, giving up after 3 failures
        while ((Clock.now - start < a.seconds || times.size < 2) && tally.failed < 3) {
          tally.attempted += 1
          try times += timedRun(times.size)
          catch { case e: Throwable => tally.failed += 1; System.err.println(s"[perfbench] run failed: $e") }
        }
        if (times.isEmpty) Nil
        else Seq(
          Metric("setup_s", Stats.median(setups), "s"),
          Metric("op_p50_ms", Stats.median(times.toSeq) * 1000, "ms"),
          Metric("op_p95_ms", Stats.quantile(times.toSeq, 0.95) * 1000, "ms"),
          Metric("op_mean_ms", Stats.mean(times.toSeq) * 1000, "ms"),
          Metric("peak_heap_mb", Stats.median(heapPeaks.toSeq), "MB"))
      } else traced(a, spark, raw, input, tally, timedRun)

    Session.stop(spark)
    Outcome(tally.attempted, tally.failed, e2e)
  }

  /** The traced run: a traced `Pipeline.run` under the ledger between two
    * untraced ones, then the same public calls `Pipeline.run` makes, in its
    * order, each timed as a span, then the streaming layer.
    */
  private def traced(a: Args, spark: SparkSession, raw: Path, input: OwmGen.BatchInput,
                     tally: Tally, timedRun: Int => Double): Seq[Metric] = {
    val untraced = timedRun(0)
    val ledger = new Ledger().register(spark)
    val out = Fs.fresh(a.work.resolve("out-traced"))
    val w0 = System.currentTimeMillis()
    val (_, tracedWall) = Clock.time(Pipeline.run(spark, config(raw, out)))
    val w1 = System.currentTimeMillis()
    ledger.drain(spark)
    val pipelineMetrics = ledger.metrics("pipeline", w0, w1)
    val sites = Seq("Pipeline", "Sinks", "Figures", "AnalysisDoc").flatMap { s =>
      val c = ledger.site(s)
      Seq(Metric(s"site.$s.jobs", c.jobs.toDouble, "count"),
          Metric(s"site.$s.task_s", c.taskMs / 1000.0, "s"))
    }
    val rawScanRatio = ledger.totals.inputBytes.toDouble / input.bytes
    ledger.unregister(spark)
    val untraced2 = timedRun(1)

    val spans = new Spans
    val so = Fs.fresh(a.work.resolve("out-spans"))
    val cfg = config(raw, so)
    val processed: DataFrame = spans("ingest+transform") {
      Ingest.transform(Ingest.readRawJson(spark, cfg.rawPath))
    }._1
    spans("sink.partitioned")(Sinks.writePartitioned(processed, cfg.processedPath))
    spans("sink.reports") {
      Sinks.writeCsv(processed, s"${cfg.outputPath}/report_csv")
      Sinks.writeJson(processed, s"${cfg.outputPath}/report_json")
      Sinks.writeSummaryCsv(processed, "city",
        Seq("temperature", "humidity", "wind_speed"), s"${cfg.outputPath}/summary_csv")
    }
    spans("analyze.analyses") {
      Seq(
        "basic_stats" -> Analytics.basicStats(processed, "timestamp", "temperature"),
        "city_comparisons" -> Analytics.groupMultiAgg(processed, "city", "temperature"),
        "extremes" -> Analytics.extremeGroupsLabelled(processed, "city", "temperature"),
        "daily" -> Analytics.dailyAgg(processed, "timestamp", "city", "temperature"),
        "conditions" -> Analytics.valueCounts(processed, "weather_condition"),
        "condition_mode" -> Analytics.modePerGroup(processed, "city", "weather_condition"),
        "trends" -> Analytics.trendAnalysis(processed, "timestamp", "city", "temperature"))
        .foreach { case (name, df) =>
          df.write.mode("overwrite").json(s"${cfg.outputPath}/analysis/$name")
        }
    }
    spans("analyze.doc") {
      val doc = AnalysisDoc.build(processed)
      val p = java.nio.file.Paths.get(cfg.outputPath, "analysis_doc.json")
      Files.createDirectories(p.getParent)
      Files.writeString(p, doc)
    }
    spans("sink.figures")(Figures.writeFigures(processed, s"${cfg.outputPath}/figures"))
    val spanSum = Seq("ingest+transform", "sink.partitioned", "sink.reports",
      "analyze.analyses", "analyze.doc", "sink.figures").map(spans.seconds).sum
    tally.check(f"span sum $spanSum%.2f s within 25 %% of the traced Pipeline.run $tracedWall%.2f s")(
      math.abs(spanSum - tracedWall) <= 0.25 * tracedWall)
    tally.check("the span sequence wrote the same outputs as Pipeline.run")(
      inspect(spark, so).digest == inspect(spark, out).digest)

    // One materialization of ingest + clean, and the clean layer's counts.
    val (_, transformS) = spans("ingest.transform") {
      Ingest.transform(Ingest.readRawJson(spark, cfg.rawPath)).write.format("noop").mode("overwrite").save()
    }
    val rowsIn = spark.read.text(raw.toString).count()
    val rowsOut = spark.read.parquet(cfg.processedPath).count()
    spans.write(a.work.resolve(s"spans-${a.workload}.json"))
    // The streaming layer, measured in the same session.
    val stream = StreamBench.layer(a, spark, tally)

    Seq(
      Metric("bench.trace_overhead_pct",
        (tracedWall / ((untraced + untraced2) / 2) - 1) * 100, "%"),
      Metric("bench.span_coverage", spanSum / tracedWall, "ratio"),
      Metric("ingest.transform_s", transformS, "s"),
      Metric("ingest.rows_in", rowsIn.toDouble, "count"),
      Metric("ingest.rows_out", rowsOut.toDouble, "count"),
      Metric("ingest.accept_ratio", rowsOut.toDouble / rowsIn, "ratio"),
      Metric("clean.values_nulled", valuesNulled(spark, cfg.rawPath).toDouble, "count"),
      Metric("pipeline.raw_scan_ratio", rawScanRatio, "ratio")) ++
      pipelineMetrics ++ sites ++ Seq(
      Metric("analyze.analyses_s", spans.seconds("analyze.analyses"), "s"),
      Metric("analyze.doc_s", spans.seconds("analyze.doc"), "s"),
      Metric("sink.partitioned_s", spans.seconds("sink.partitioned"), "s"),
      Metric("sink.partitioned_files", Fs.dataFiles(java.nio.file.Paths.get(cfg.processedPath)).size.toDouble, "count"),
      Metric("sink.reports_s", spans.seconds("sink.reports"), "s"),
      Metric("sink.figures_s", spans.seconds("sink.figures"), "s"),
      Metric("sink.output_bytes_ratio", Fs.bytes(so).toDouble / input.bytes, "ratio")) ++
      stream
  }

  /** Numeric values outside the cleaner's fences (p05/p95 ± 1.5 × their
    * spread), which the cleaner nulls and then imputes.
    */
  private def valuesNulled(spark: SparkSession, rawPath: String): Long = {
    val flat = Ingest.flatten(Ingest.readRawJson(spark, rawPath))
    val cols = WeatherSchema.numericCols
    val q = cols.flatMap(c => Seq(percentile(col(c), lit(0.05)), percentile(col(c), lit(0.95))))
    val b = flat.agg(q.head, q.tail: _*).collect()(0)
    val outside = cols.zipWithIndex.map { case (c, i) =>
      val (q1, q3) = (b.getDouble(2 * i), b.getDouble(2 * i + 1))
      when(col(c) < q1 - 1.5 * (q3 - q1) || col(c) > q3 + 1.5 * (q3 - q1), 1L).otherwise(0L)
    }.reduce(_ + _)
    flat.agg(sum(outside)).collect()(0).getLong(0)
  }
}
