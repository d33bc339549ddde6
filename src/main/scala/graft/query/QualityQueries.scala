package graft
package query

import org.apache.spark.sql.functions._

/** The `dq` family: declarative data-quality suites in the Deequ shape,
  * where a whole suite rides one conditional-aggregate scan.
  */
private[graft] object QualityQueries {

  /** dq oracle helper: unpivot the one-row aggregate into report rows
    * (`maxRows` metrics pass on ≤ instead of ≥).
    */
  private def dqReport(rows: Seq[(String, String, String, String)],
                       maxRows: Set[String]): String =
    rows.map { case (name, c, m, thr) =>
      val cmp = if (maxRows.contains(m)) "<=" else ">="
      s"""SELECT '$name' AS check_name, '$c' AS col_name,
         |  round($m * 1000000) / 1000000.0 + 0.0 AS metric,
         |  CAST($thr AS DOUBLE) AS threshold, $m $cmp CAST($thr AS DOUBLE) AS passed FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")

  val family: Family = Family("dq", "declarative data-quality suites",
    impl = "graft.quality.Checks",
    specs = "ChecksSpec", queries = Seq(
    // plan: the whole suite compiles to one conditional-aggregate scan
    Query("dq1_orders_checks", (s, d) =>
      graft.quality.Checks.run(Tables(s, d, "orders"), Seq(
        graft.quality.Checks.rowCountAtLeast(1000.0),
        graft.quality.Checks.completeness("o_custkey", 1.0),
        graft.quality.Checks.uniqueness("o_orderkey", 1.0),
        graft.quality.Checks.minValue("o_totalprice", 0.0),
        graft.quality.Checks.inSet("o_orderstatus", Seq("O", "F", "P"), 1.0),
        graft.quality.Checks.matches("o_orderpriority", "^[1-5]-", 1.0))),
      // dq family: the one-scan conditional-agg suite unpivoted to report
      // rows; every metric a ratio of counts or an exact min/max
      Sql(s"""WITH a AS (SELECT CAST(count(*) AS DOUBLE) AS m0,
         |  CAST(count(o_custkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
         |  CAST(count(DISTINCT o_orderkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m2,
         |  CAST(min(o_totalprice) AS DOUBLE) AS m3,
         |  CAST(count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m4,
         |  CAST(count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m5
         | FROM orders)
         |${dqReport(Seq(
             ("row_count", "*", "m0", "1000"),
             ("completeness", "o_custkey", "m1", "1"),
             ("uniqueness", "o_orderkey", "m2", "1"),
             ("min_value", "o_totalprice", "m3", "0"),
             ("in_set", "o_orderstatus", "m4", "1"),
             ("matches", "o_orderpriority", "m5", "1")), maxRows = Set())}""".stripMargin)),

    // plan: the referential legs broadcast the dimension domain
    Query("dq2_referential_checks", (s, d) =>
      graft.quality.Checks.referential(
        Tables(s, d, "orders"), "o_custkey",
        Tables(s, d, "customer"), "c_custkey", 1.0)
        .unionAll(graft.quality.Checks.referential(
          Tables(s, d, "lineitem"), "l_orderkey",
          Tables(s, d, "orders"), "o_orderkey", 1.0)),
      Sql("""SELECT 'referential' AS check_name, 'o_custkey' AS col_name,
        |  round(m * 1000000) / 1000000.0 + 0.0 AS metric,
        |  CAST(1 AS DOUBLE) AS threshold, m >= CAST(1 AS DOUBLE) AS passed
        |FROM (SELECT CAST(count(k.__k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |      FROM orders LEFT JOIN (SELECT DISTINCT c_custkey AS __k FROM customer) k
        |      ON orders.o_custkey = k.__k)
        |UNION ALL
        |SELECT 'referential' AS check_name, 'l_orderkey' AS col_name,
        |  round(m * 1000000) / 1000000.0 + 0.0 AS metric,
        |  CAST(1 AS DOUBLE) AS threshold, m >= CAST(1 AS DOUBLE) AS passed
        |FROM (SELECT CAST(count(k.__k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |      FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS __k FROM orders) k
        |      ON lineitem.l_orderkey = k.__k)""".stripMargin)),

    Query("dq3_documents_checks", (s, d) =>
      graft.quality.Checks.run(Tables(s, d, "documents"), Seq(
        graft.quality.Checks.completeness("text", 1.0),
        graft.quality.Checks.uniqueness("doc_id", 1.0),
        graft.quality.Checks.minValue("n_chars", 1.0),
        graft.quality.Checks.maxValue("n_chars", 10000.0),
        graft.quality.Checks.inSet("lang",
          Seq("en", "de", "fr", "es", "zh"), 1.0))),
      Sql(s"""WITH a AS (SELECT
         |  CAST(count(text) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
         |  CAST(count(DISTINCT doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
         |  CAST(min(n_chars) AS DOUBLE) AS m2,
         |  CAST(max(n_chars) AS DOUBLE) AS m3,
         |  CAST(count(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m4
         | FROM documents)
         |${dqReport(Seq(
             ("completeness", "text", "m0", "1"),
             ("uniqueness", "doc_id", "m1", "1"),
             ("min_value", "n_chars", "m2", "1"),
             ("max_value", "n_chars", "m3", "10000"),
             ("in_set", "lang", "m4", "1")), maxRows = Set("m3"))}""".stripMargin)),

    // the fact-to-fact referential gate through the bloom prefilter —
    // screened-out keys are definite orphans (no false negatives), the
    // join only demotes false positives, so the answer is IDENTICAL to
    // dq2's plain-join leg and the oracle replays the plain join
    // plan: the confirm join sees the bloom-screened candidates, build map-side, no distinct exchange
    Query("dq5_referential_bloom", (s, d) =>
      graft.quality.Checks.referentialBloom(
        Tables(s, d, "lineitem"), "l_orderkey",
        Tables(s, d, "orders"), "o_orderkey", 1.0),
      // dq5: the bloom prefilter is answer-invisible (no false negatives;
      // the join demotes false positives) — the oracle is the PLAIN join
      Sql("""SELECT 'referential' AS check_name, 'l_orderkey' AS col_name,
        |  round(m * 1000000) / 1000000.0 + 0.0 AS metric,
        |  CAST(1 AS DOUBLE) AS threshold, m >= CAST(1 AS DOUBLE) AS passed
        |FROM (SELECT CAST(count(k.__k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |      FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS __k FROM orders) k
        |      ON lineitem.l_orderkey = k.__k)""".stripMargin)),

    // row-level quarantine: the same declared suite routes violating
    // rows with their reason lists — one map-side pass, no shuffle;
    // `error` events and sub-1.0 values route, user_id completeness
    // exercises a passing check. The library API returns the reason
    // LIST; the registered frame publishes it ','-joined (declaration
    // order is deterministic, so the string is information-preserving)
    // because the driver harness canonicalizes results by sorting every
    // column and a top-level array is unsortable there — the r18 red
    // row. ContractSpec pins the no-array/map rule for all registered
    // outputs so the class can't recur.
    // plan: one map-side scan: no exchange, no aggregate, no join
    Query("dq6_quarantine", (s, d) =>
      graft.quality.Checks.quarantine(Tables.events(s, d), Seq(
        graft.quality.Checks.completeness("user_id", 1.0),
        graft.quality.Checks.minValue("value", 1.0),
        graft.quality.Checks.inSet("event_type",
          Seq("view", "click", "purchase", "signup"), 1.0)))
        .filter(size(col("failed_checks")) > 0)
        .select(col("event_id"),
          array_join(col("failed_checks"), ",").as("failed_checks")),
      // dq6: each row's declaration-ordered reason list built by list
      // concatenation then ','-joined (mirrors the engine's array_join
      // publish — arrays are unsortable in the harness) — null user_id
      // fails completeness, value < 1 fails min_value (nulls pass: min()
      // skips them), event_type outside the set (or null) fails in_set
      Sql("""SELECT event_id, array_to_string(
        |  (CASE WHEN user_id IS NULL THEN ['completeness:user_id'] ELSE [] END) ||
        |  (CASE WHEN value IS NOT NULL AND value < 1.0 THEN ['min_value:value'] ELSE [] END) ||
        |  (CASE WHEN event_type IS NULL OR event_type NOT IN ('view','click','purchase','signup')
        |        THEN ['in_set:event_type'] ELSE [] END), ',') AS failed_checks
        |FROM events
        |WHERE user_id IS NULL OR (value IS NOT NULL AND value < 1.0)
        |   OR event_type IS NULL
        |   OR event_type NOT IN ('view','click','purchase','signup')""".stripMargin)),

    // cross-column / conditional invariants (Deequ's `satisfies`): the
    // suite still compiles to ONE conditional-aggregate scan — each
    // predicate is just another CASE branch; the row-scoped forms also
    // feed quarantine routing unchanged
    // plan: one conditional-aggregate scan
    Query("dq7_conditional_checks", (s, d) =>
      graft.quality.Checks.run(Tables(s, d, "lineitem"), Seq(
        graft.quality.Checks.satisfies("price_positive",
          col("l_extendedprice") > 0, 1.0),
        graft.quality.Checks.satisfies("bulk_is_discounted",
          col("l_quantity") < 40 || col("l_discount") >= 0.02, 0.9),
        graft.quality.Checks.satisfies("tax_capped_when_discounted",
          col("l_discount") === 0 || col("l_tax") <= 0.07, 0.95))),
      Sql(s"""WITH a AS (SELECT
         |  CAST(count(CASE WHEN l_extendedprice > 0 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
         |  CAST(count(CASE WHEN l_quantity < 40 OR l_discount >= 0.02 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
         |  CAST(count(CASE WHEN l_discount = 0 OR l_tax <= 0.07 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m2
         | FROM lineitem)
         |${dqReport(Seq(
             ("satisfies", "price_positive", "m0", "1"),
             ("satisfies", "bulk_is_discounted", "m1", "0.9"),
             ("satisfies", "tax_capped_when_discounted", "m2", "0.95")), maxRows = Set())}""".stripMargin)),

    // drift detection (the Deequ anomaly shape): per-DAY metric history
    // over the event log, the latest day judged against the trailing
    // days' mean — the gate a one-snapshot suite cannot express
    // plan: one grouped scan plus a broadcast latest-period filter
    Query("dq4_metric_drift", (s, d) =>
      graft.quality.Checks.driftReport(
        graft.quality.Checks.runByPeriod(Tables.events(s, d),
          to_date(col("ts")), Seq(
            graft.quality.Checks.completeness("value", 1.0),
            graft.quality.Checks.uniqueness("user_id", 1.0),
            graft.quality.Checks.minValue("value", 0.0),
            graft.quality.Checks.maxValue("value", 100.0))),
        maxAbsDelta = 0.02),
      // dq4: the per-day metric history + trailing-mean drift judgment
      // replayed literally (decimal-staged trailing mean, rounded
      // published values, unrounded comparison — the engine's exact
      // expressions; threshold literals CAST in DOUBLE space)
      Sql("""WITH m AS (SELECT CAST(ts AS DATE) AS period,
        |    round((CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000.0 + 0.0 AS c_val,
        |    round((CAST(count(DISTINCT user_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000.0 + 0.0 AS u_usr,
        |    round(CAST(min(value) AS DOUBLE) * 1000000) / 1000000.0 + 0.0 AS mn_val,
        |    round(CAST(max(value) AS DOUBLE) * 1000000) / 1000000.0 + 0.0 AS mx_val
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT period, 'completeness' AS check_name, 'value' AS col_name, c_val AS metric FROM m
        |  UNION ALL SELECT period, 'uniqueness', 'user_id', u_usr FROM m
        |  UNION ALL SELECT period, 'min_value', 'value', mn_val FROM m
        |  UNION ALL SELECT period, 'max_value', 'value', mx_val FROM m),
        |l AS (SELECT max(period) AS latest FROM h),
        |cur AS (SELECT check_name, col_name, metric FROM h, l WHERE period = latest),
        |tr AS (SELECT check_name, col_name,
        |    CAST(sum(CAST(metric AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS tm
        |  FROM h, l WHERE period < latest GROUP BY 1, 2)
        |SELECT c.check_name, c.col_name, c.metric,
        |  round(tm * 1000000) / 1000000.0 + 0.0 AS trailing_mean,
        |  round(abs(c.metric - tm) * 1000000) / 1000000.0 + 0.0 AS delta,
        |  CAST(0.02 AS DOUBLE) AS threshold,
        |  (tm IS NULL OR abs(c.metric - tm) <= CAST(0.02 AS DOUBLE)) AS passed
        |FROM cur c LEFT JOIN tr USING (check_name, col_name)""".stripMargin))))
}
