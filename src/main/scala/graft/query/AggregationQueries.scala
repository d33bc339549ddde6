package graft
package query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Analytics

/** The `a` family: aggregations and statistics (SURVEY §2.4). */
private[graft] object AggregationQueries {

  /** events with the reference's derived `date` string column (F6). */
  private def eventsWithDate(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("date", date_format(to_date(col("ts")), "yyyy-MM-dd"))

  val family: Family = Family("a", "aggregation / statistics",
    impl = "graft.analyze.Analytics, graft.analyze.Profiler",
    specs = "AnalyticsSpec, IncrementalAggSpec, ProfilerSpec", queries = Seq(
    Query("a1_basic_stats", (s, d) => Analytics.basicStats(Tables.events(s, d), "ts", "value"),
      Sql("""SELECT count(*) AS record_count,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts_max,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(median(value),4) AS value_median
        |FROM events""".stripMargin)),

    Query("a2_group_agg", (s, d) => Analytics.groupMultiAgg(Tables.events(s, d), "event_type", "value"),
      Sql("""SELECT event_type,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)),

    Query("a3_extremes", (s, d) => Analytics.extremeGroupsLabelled(Tables.events(s, d), "event_type", "value"),
      Sql("""WITH g AS (SELECT event_type, avg(value) AS m FROM events GROUP BY event_type)
        |(SELECT 'highest' AS kind, event_type AS group_key, round(m,4) AS value_mean
        | FROM g ORDER BY m DESC, event_type LIMIT 1)
        |UNION ALL
        |(SELECT 'lowest' AS kind, event_type AS group_key, round(m,4) AS value_mean
        | FROM g ORDER BY m ASC, event_type LIMIT 1)""".stripMargin)),

    Query("a4_daily_agg", (s, d) => Analytics.dailyAgg(Tables.events(s, d), "ts", "event_type", "value"),
      Sql("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date, event_type,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |    / 10000.0 + 0.0 AS value_mean,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max
        |FROM events GROUP BY CAST(ts AS DATE), event_type""".stripMargin)),

    Query("a5_value_counts", (s, d) => Analytics.valueCounts(Tables.events(s, d), "event_type"),
      Sql("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type")),

    Query("a6_mode_per_day", (s, d) => Analytics.modePerGroup(eventsWithDate(s, d), "date", "event_type"),
      Sql("""SELECT date, mode_value, cnt FROM (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |         event_type AS mode_value, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY CAST(ts AS DATE)
        |                            ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY CAST(ts AS DATE), event_type)
        |WHERE rn = 1""".stripMargin)),

    Query("a7_summary_rounded", (s, d) =>
      Analytics.summaryRounded(Tables.lineitem(s, d), "l_returnflag", Seq("l_quantity", "l_extendedprice")),
      Sql("""SELECT l_returnflag,
        |  round(avg(l_quantity),2) AS l_quantity_mean,
        |  round(min(l_quantity),2) AS l_quantity_min,
        |  round(max(l_quantity),2) AS l_quantity_max,
        |  round(avg(l_extendedprice),2) AS l_extendedprice_mean,
        |  round(min(l_extendedprice),2) AS l_extendedprice_min,
        |  round(max(l_extendedprice),2) AS l_extendedprice_max
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Query("a8_percentile_bounds", (s, d) => Analytics.percentileBounds(Tables.events(s, d), Seq("value")),
      Sql("""SELECT round(q1,4) AS value_q_lo, round(q3,4) AS value_q_hi,
        |  round(q1 - 1.5*(q3-q1),4) AS value_lb, round(q3 + 1.5*(q3-q1),4) AS value_ub
        |FROM (SELECT quantile_cont(value,0.05) AS q1, quantile_cont(value,0.95) AS q3 FROM events)""".stripMargin)),

    Query("a9_medians", (s, d) =>
      Analytics.medians(Tables.lineitem(s, d), Seq("l_quantity", "l_extendedprice", "l_discount")),
      Sql("""SELECT round(median(l_quantity),4) AS l_quantity_median,
        |  round(median(l_extendedprice),4) AS l_extendedprice_median,
        |  round(median(l_discount),4) AS l_discount_median
        |FROM lineitem""".stripMargin)),

    Query("a10_outlier_census", (s, d) => Analytics.outlierCensus(Tables.events(s, d), "value"),
      Sql("""WITH b AS (SELECT quantile_cont(value,0.05) AS q1, quantile_cont(value,0.95) AS q3 FROM events),
        |bb AS (SELECT q1 - 1.5*(q3-q1) AS lb, q3 + 1.5*(q3-q1) AS ub FROM b)
        |SELECT outliers, total, round(outliers*1.0/total, 6) AS outlier_rate FROM (
        |  SELECT count(*) FILTER (WHERE value < lb OR value > ub) AS outliers,
        |         count(*) AS total
        |  FROM events, bb)""".stripMargin)),

    Query("a11_distinct_values", (s, d) => Analytics.distinctValues(Tables.events(s, d), "event_type"),
      Sql("SELECT DISTINCT event_type FROM events")),

    Query("a12_global_means", (s, d) => Analytics.globalMeans(Tables.events(s, d), "value"),
      Sql("""SELECT count(*) AS record_count,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max
        |FROM events""".stripMargin)),

    Query("a13_regression", (s, d) =>
      Analytics.regression(Tables.lineitem(s, d), "l_quantity", "l_extendedprice"),
      Sql("""SELECT round(regr_slope(l_extendedprice, l_quantity),6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity),6) AS intercept,
        |  round(corr(l_extendedprice, l_quantity),6) AS correlation,
        |  count(*) AS n
        |FROM lineitem""".stripMargin)),

    Query("a14_distinct_counts", (s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_rows")),
      Sql("""SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_suppliers, count(*) AS n_rows
        |FROM lineitem""".stripMargin)),

    // HLL sketch — implementation-specific estimate, rows-only check;
    // the 100 TB twin of a14's exact distinct.
    Query("a15_approx_distinct", (s, d) =>
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows")),
      RowsOnly("HLL sketch: an engine-specific estimate")),

    Query("a16_rollup", (s, d) =>
      Analytics.rollupSummary(Tables.lineitem(s, d), "l_returnflag", "l_linestatus", "l_quantity"),
      Sql("""SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS l_linestatus,
        |  round(sum(l_quantity),2) AS value_sum, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // Two-stage salted aggregation must equal the direct group-by — the
    // oracle IS the direct SQL, so the gate proves the decomposition.
    Query("a17_salted_agg", (s, d) => Analytics.saltedAgg(Tables.events(s, d), "event_type", "value"),
      Sql("""SELECT event_type,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS value_sum,
        |  count(*) AS n,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS value_mean
        |FROM events GROUP BY event_type""".stripMargin)),

    Query("a18_cube", (s, d) =>
      Analytics.cubeSummary(Tables.lineitem(s, d), "l_returnflag", "l_linestatus", "l_quantity"),
      Sql("""SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS l_linestatus,
        |  round(sum(l_quantity),2) AS value_sum, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    // Single-pass column profiler over the full events table: per column,
    // nulls / exact distincts / canonical min+max — ONE scan, stats pivot
    // out of a one-row aggregate.
    Query("a20_profile", (s, d) =>
      graft.analyze.Profiler.profile(Tables.events(s, d)),
      Sql("""SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(event_id) AS n_nulls, count(DISTINCT event_id) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_value, CAST(max(event_id) AS VARCHAR) AS max_value
        |FROM events
        |UNION ALL SELECT 'ts', count(*), count(*) - count(ts), count(DISTINCT ts),
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S'), strftime(max(ts), '%Y-%m-%d %H:%M:%S') FROM events
        |UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
        |UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type),
        |  min(event_type), max(event_type) FROM events
        |UNION ALL SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value),
        |  CAST(CAST(round(min(value), 4) AS DECIMAL(28,4)) AS VARCHAR),
        |  CAST(CAST(round(max(value), 4) AS DECIMAL(28,4)) AS VARCHAR) FROM events
        |UNION ALL SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props),
        |  min(props), max(props) FROM events""".stripMargin)),

    // Incrementally maintained aggregate: the corpus/batch split (event_id
    // mod 29) is aggregated into two partial-state tables, merged, and
    // finalized — the oracle aggregates the full table DIRECTLY, so a pass
    // proves finalize(merge(state(a), state(b))) == directAgg(a union b).
    Query("a21_incremental_agg", (s, d) => {
      import graft.analyze.IncrementalAgg
      val ev = Tables.events(s, d)
      val corpus = IncrementalAgg.state(
        ev.filter(pmod(col("event_id"), lit(29)) =!= 0), "event_type", "ts", "value")
      val batch = IncrementalAgg.state(
        ev.filter(pmod(col("event_id"), lit(29)) === 0), "event_type", "ts", "value")
      IncrementalAgg.finalize(
        IncrementalAgg.merge(corpus, batch, "event_type"), "event_type")
    },
      // Direct full-table aggregation: the Spark side computes the same
      // result via corpus/batch partial states + merge, so a hash match
      // proves the incremental-view decomposition exact.
      Sql("""SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |  count(value) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS value_sum,
        |  round(min(value), 4) AS value_min, round(max(value), 4) AS value_max,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |    / 10000.0 + 0.0 AS value_mean
        |FROM events GROUP BY event_type, CAST(ts AS DATE)""".stripMargin)),

    // Grouped percentiles: exact per-group p50/p95 (a8's global bounds,
    // per key) — the grouped-quantile shape every monitoring rollup needs.
    Query("a19_grouped_percentiles", (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.5)), 4).as("p50"),
             round(percentile(col("value"), lit(0.95)), 4).as("p95"),
             count(lit(1)).as("n")),
      Sql("""SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin))))
}
