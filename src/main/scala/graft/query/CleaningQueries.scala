package graft
package query

import org.apache.spark.sql.functions._

import graft.clean.Cleaning

/** The `c` family: the statistics-dependent cleaning composite (SURVEY §2.9). */
private[graft] object CleaningQueries {

  val family: Family = Family("c", "statistics-dependent cleaning",
    impl = "graft.clean.Cleaning",
    specs = "CleaningSpec", queries = Seq(
    // §2.9 two-pass clean on events.value, summarized per group so the
    // verified output is small but pins the full bounds→null→median chain.
    Query("c1_two_pass_clean", (s, d) =>
      Cleaning.twoPassClean(Tables.events(s, d), Seq("value"))._1
        .groupBy("event_type")
        .agg(graft.analyze.Analytics.stableMean4(col("value")).as("value_mean"),
             round(min(col("value")), 4).as("value_min"),
             round(max(col("value")), 4).as("value_max"),
             count(lit(1)).as("n")),
      Sql("""WITH b AS (SELECT quantile_cont(value,0.05) AS q1, quantile_cont(value,0.95) AS q3 FROM events),
        |bb AS (SELECT q1 - 1.5*(q3-q1) AS lb, q3 + 1.5*(q3-q1) AS ub FROM b),
        |nulled AS (SELECT event_type,
        |             CASE WHEN value < lb OR value > ub THEN NULL ELSE value END AS v
        |           FROM events, bb),
        |m AS (SELECT median(v) AS med FROM nulled),
        |clean AS (SELECT event_type, coalesce(v, med) AS v FROM nulled, m)
        |SELECT event_type,
        |  round((CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(v)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(min(v),4) AS value_min,
        |  round(max(v),4) AS value_max, count(*) AS n
        |FROM clean GROUP BY event_type""".stripMargin))))
}
