package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyze.{AnalysisDoc, Analytics, WeatherFacts}
import graft.ingest.Ingest
import graft.observe.Metrics
import graft.schema.WeatherSchema
import graft.sink.{Figures, Sinks}

/** Phase orchestrator — the `main.py` analog (SURVEY §3.1), lazily
  * composed: the reference hands each phase a file written by the previous
  * one (raw dir → processed dir → output dir); here each phase hands the
  * next a DataFrame, so Catalyst sees the whole plan per output. Besides
  * the sinks, three things are collected to the driver: the cleaner's two
  * 1-row statistics jobs (once, in `Ingest.transform`), the one
  * [[graft.analyze.WeatherFacts]] pass that the analysis document and the
  * figures share, and the figures' histogram bins and scatter sample.
  * Phase-skip flags mirror main.py:140-147.
  */
object Pipeline {

  case class Config(
      rawPath: String,
      processedPath: String,
      outputPath: String,
      skipTransform: Boolean = false,
      skipAnalyze: Boolean = false,
      skipLoad: Boolean = false,
      writeFigures: Boolean = true) // S13: the 5 SVG charts (analyze.py:308-491)

  case class Result(
      processed: Option[DataFrame],
      analyses: Map[String, DataFrame])

  /** Run extract→transform→analyze→load over raw OWM JSON. Returns the
    * intermediate frames so callers (and tests) can inspect without
    * re-reading sinks.
    */
  def run(spark: SparkSession, cfg: Config): Result = {
    Metrics.install(spark)
    Metrics.inc(Metrics.PipelineRuns)
    try {
      // extract: in batch mode the "extract" phase is the scan itself; a
      // live deployment swaps this for the streaming source (graft.streaming)
      val raw = Ingest.readRawJson(spark, cfg.rawPath)

      if (cfg.skipTransform) return Result(None, Map.empty)
      val processed = Ingest.transform(raw)
      Sinks.writePartitioned(processed, cfg.processedPath)
      Metrics.inc(Metrics.ExtractSuccesses)

      val analyses: Map[String, DataFrame] =
        if (cfg.skipAnalyze) Map.empty
        else {
          Metrics.inc(Metrics.AnalysisRuns)
          Map(
            "basic_stats" -> Analytics.basicStats(processed, "timestamp", "temperature"),
            "city_comparisons" -> Analytics.groupMultiAgg(processed, "city", "temperature"),
            "extremes" -> Analytics.extremeGroupsLabelled(processed, "city", "temperature"),
            "daily" -> Analytics.dailyAgg(processed, "timestamp", "city", "temperature"),
            "conditions" -> Analytics.valueCounts(processed, "weather_condition"),
            "condition_mode" -> Analytics.modePerGroup(processed, "city", "weather_condition"),
            "trends" -> Analytics.trendAnalysis(processed, "timestamp", "city", "temperature"))
        }

      if (!cfg.skipLoad) {
        Sinks.writeCsv(processed, s"${cfg.outputPath}/report_csv")
        Sinks.writeJson(processed, s"${cfg.outputPath}/report_json")
        Sinks.writeSummaryCsv(processed, "city",
          Seq("temperature", "humidity", "wind_speed"), s"${cfg.outputPath}/summary_csv")
        analyses.foreach { case (name, df) =>
          df.write.mode("overwrite").json(s"${cfg.outputPath}/analysis/$name")
        }
        // the reference's single nested weather_analysis_*.json document
        // and its 5 figures (SVG here — no plot libs needed), both from one
        // collected facts pass
        if (!cfg.skipAnalyze) {
          val facts = WeatherFacts.collect(processed)
          val p = java.nio.file.Paths.get(cfg.outputPath, "analysis_doc.json")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, AnalysisDoc.render(facts))
          if (cfg.writeFigures)
            Figures.write(facts, processed, s"${cfg.outputPath}/figures")
        }
        Metrics.inc(Metrics.LoadSuccesses)
      }
      Result(Some(processed), analyses)
    } catch {
      case e: Throwable =>
        Metrics.inc(Metrics.PipelineFailures)
        throw e
    }
  }
}
