package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only persisted metric history — the cross-RUN seam of the dq
  * family (the HashLedger discipline applied to check reports): each
  * pipeline run appends its report's metrics stamped with a sortable
  * period id; [[Checks.driftReport]] then judges the newest run against
  * the trailing distribution. A suite validates one snapshot; the store
  * is what makes "is today where it has been?" answerable at all —
  * without it every run's report dies with the run.
  *
  * Period ids must sort in run order under STRING comparison (ISO dates
  * `2024-01-07`, zero-padded batch ids `b000012`) — the store neither
  * invents time nor trusts wall clocks, so ordering is the caller's
  * contract (the same reason [[graft.analyze.Lifecycle.scd2ApplyBatch]]
  * takes the split from its caller). History volume is
  * runs × checks rows — years of daily runs stay driver-trivial; each
  * append is one tiny file, and a periodic [[compact]] folds them.
  *
  * The store at `path` commits through a [[graft.StoreLog]] manifest
  * that maps each period to the ONE directory authoritative for it, so
  * readers never have to arbitrate between copies of a period.
  */
object ReportStore {

  /** Append one run's report metrics under `period`. Accepts any frame
    * with (check_name, col_name, metric) — the [[Checks.run]] report's
    * threshold/passed columns are judgment at append time and are
    * deliberately not stored (history rows are observations; see
    * [[Checks.runByPeriod]]).
    *
    * Idempotent PER PERIOD: the period's rows land in a fresh directory
    * that the manifest then names as the period's source, so a replayed
    * run (a restarted job re-appending a period it already wrote)
    * REPLACES its period instead of accumulating duplicate (period,
    * check) rows that would double-count the trailing mean — also after
    * a [[compact]]: a post-compact replay that CORRECTS a metric
    * supersedes the compacted row.
    */
  def append(report: DataFrame, path: String, period: String): Unit = synchronized {
    require(period.nonEmpty && !period.contains("/") && !period.contains("\\"),
      s"period must be a plain path segment; got '$period'")
    val log = open(report.sparkSession, path)
    val s = log.snapshot
    val dir = log.fresh("period")
    report.select(lit(period).as("period"), col("check_name"),
        col("col_name"), col("metric"))
      .coalesce(1)
      .write.parquet(log.path(dir).toString)
    log.commit(s.copy(keys = s.keys + (period -> dir)))
  }

  private def open(spark: SparkSession, path: String): graft.StoreLog =
    graft.StoreLog.open(spark, new org.apache.hadoop.fs.Path(path))

  /** The full metric history: (period, check_name, col_name, metric) —
    * each period's rows read from the directory the manifest names for
    * it.
    */
  def load(spark: SparkSession, path: String): DataFrame = synchronized {
    read(spark, open(spark, path))
  }

  private def read(spark: SparkSession, log: graft.StoreLog): DataFrame = {
    require(log.snapshot.keys.nonEmpty, s"no report history at ${log.base}")
    log.snapshot.keys.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, periods) =>
      spark.read.parquet(log.path(dir).toString)
        .filter(col("period").isin(periods.keys.toSeq.sorted: _*))
    }.reduce(_.unionByName(_))
  }

  /** Rewrite the store as one compact file set (the HashLedger compact
    * pass — a year of daily appends is 365 tiny files): every period
    * then maps to the one folded directory.
    */
  def compact(spark: SparkSession, path: String): Unit = synchronized {
    val log = open(spark, path)
    val s = log.snapshot
    val dir = log.fresh("history")
    read(spark, log).coalesce(1).write.parquet(log.path(dir).toString)
    log.commit(s.copy(keys = s.keys.map { case (p, _) => p -> dir }))
  }
}
