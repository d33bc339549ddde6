package graft
package query

import org.apache.spark.sql.functions._

import graft.functions.Scalars

/** The `f` family: scalar and date functions (SURVEY §2.8). */
private[graft] object FunctionQueries {

  val family: Family = Family("f", "scalar / date functions",
    impl = "graft.functions.Scalars",
    specs = "ScalarsSpec", queries = Seq(
    Query("f1_unit_conversions", (s, d) =>
      Tables.events(s, d).select(
        col("event_id"), col("value"),
        round(Scalars.celsiusToFahrenheit(col("value")), 4).as("fahrenheit"),
        round(Scalars.fahrenheitToCelsius(Scalars.celsiusToFahrenheit(col("value"))), 4).as("roundtrip")),
      Sql("""SELECT event_id, value,
        |  round(value*9.0/5.0 + 32.0, 4) AS fahrenheit,
        |  round(((value*9.0/5.0 + 32.0) - 32.0)*5.0/9.0, 4) AS roundtrip
        |FROM events""".stripMargin)),

    Query("f4_date_range", (s, d) =>
      Tables.orders(s, d)
        .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
        .select(explode(Scalars.dateRange(col("lo"), col("hi"))).as("d")),
      Sql("""SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 DAY)), '%Y-%m-%d') AS d
        |FROM (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |             CAST(max(o_orderdate) AS DATE) AS hi FROM orders)""".stripMargin)),

    Query("f5_map_lookup", (s, d) =>
      Tables.events(s, d)
        .withColumn("label", Scalars.mapLookup(col("event_type"),
          Seq("click" -> "engagement", "view" -> "engagement",
              "purchase" -> "conversion", "signup" -> "conversion"), "other"))
        .groupBy("event_type", "label").agg(count(lit(1)).as("cnt")),
      Sql("""SELECT event_type,
        |  CASE WHEN event_type = 'click' THEN 'engagement'
        |       WHEN event_type = 'view' THEN 'engagement'
        |       WHEN event_type = 'purchase' THEN 'conversion'
        |       WHEN event_type = 'signup' THEN 'conversion'
        |       ELSE 'other' END AS label,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type, label""".stripMargin)),

    Query("f6_time_features", (s, d) =>
      Scalars.withTimeFeatures(Tables.events(s, d), "ts")
        .select("event_id", "date", "hour", "day_of_week"),
      Sql("""SELECT event_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |  CAST(hour(ts) AS BIGINT) AS hour, dayname(ts) AS day_of_week
        |FROM events""".stripMargin)),

    // F14/semi-structured: JSON property extraction from the events.props
    // string column — schema-on-read without a UDF.
    Query("f7_json_extract", (s, d) =>
      Tables.events(s, d)
        .withColumn("k_value", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(round(avg(col("k_value")), 4).as("k_mean"),
             max(col("k_value")).as("k_max"),
             count(lit(1)).as("n")),
      Sql("""SELECT event_type,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)),4) AS k_mean,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin))))
}
