package graft
package query

import org.apache.spark.sql.functions._

import graft.analyze.Analytics

import QuerySupport._

/** The `q` family: TPC-H query shapes over the lineitem/orders/part/supplier tables. */
private[graft] object TpchQueries {

  /** q3's oracle, shared with j8 (same rows by design). */
  private[query] val shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q10's oracle, shared with j10 (same rows by design). */
  private[query] val returnedItemsSql: String =
    """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q18's oracle, shared with j7 (same rows by design). */
  private[query] val largeOrdersSql: String =
    """SELECT o_orderkey, o_custkey, round(sum(l_quantity),2) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_custkey
        |HAVING round(sum(l_quantity),2) > 150
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin

  /** q21's oracle, shared with j9 (same rows by design). */
  private[query] val waitingSuppliersSql: String =
    """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  val family: Family = Family("q", "TPC-H query shapes",
    impl = "graft.analyze.Analytics, graft.joins.Joins",
    specs = "PlanQualitySpec, JoinsSpec", queries = Seq(
    // TPC-H Q1 shape: scan → filter (pushed to parquet) → 2-key hash agg.
    Query("q1_pricing_summary", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        // money terms in exact decimal (TPC-H's own schema type): sums
        // accumulate order-free, round in decimal, publish as double;
        // means use the scaled-round stable form (see Analytics.stableMean4)
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          decSum2(col("l_extendedprice").cast("decimal(18,6)")).as("sum_base_price"),
          decSum2(volDec).as("sum_disc_price"),
          decSum2(volDec * (lit(1).cast("decimal(18,6)") + col("l_tax").cast("decimal(18,6)"))).as("sum_charge"),
          (round(sum(col("l_quantity").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_qty"),
          (round(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_price"),
          (round(sum(col("l_discount").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 1000000) / 1000000.0 + lit(0.0)).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Sql("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) *
        |    (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_charge,
        |  round((CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS avg_qty,
        |  round((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS avg_price,
        |  round((CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1000000) / 1000000.0 + 0.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3 shape: selective filters on both join sides (pushed to the
    // scans), 3-way join, group, global top-k by revenue.
    Query("q3_shipping_priority", (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        // fact-fact join pinned to sort-merge: at any interesting scale the
        // filtered lineitem side exceeds every broadcast threshold, so SMJ
        // is the plan a cluster runs — and a fact-side hash relation is
        // never a build side we want (AQE at sf0.1 would broadcast the
        // ~100k-row filtered fact; measured slower here too: the
        // single-threaded broadcast build costs more than the shuffle)
        .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(decSum2(volDec).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10),
      Sql(shippingPrioritySql)),

    // TPC-H Q6 shape: every predicate pushes into the parquet scan; the
    // whole query is one scan + one agg — the pure-pushdown benchmark.
    Query("q6_forecast_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
                col("l_discount").between(0.03, 0.05) &&
                col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       col("l_discount").cast("decimal(18,6)")), 2)
               .cast("double").as("revenue"),
             count(lit(1)).as("n")),
      Sql("""SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.05
        |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q5 shape: 5-way join through the full dimension chain with a
    // region filter; dims broadcast, facts shuffle once.
    Query("q5_local_volume", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(decSum2(volDec).as("revenue"),
             count(lit(1)).as("n")),
      Sql("""SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer, 4-way join +
    // global top-k.
    Query("q10_returned_items", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        // exact decimal sum: with only ~30 items per group the float sum
        // can land ON a half-cent boundary and round differently per
        // engine's summation order; decimal arithmetic is order-free
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
               .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20),
      Sql(returnedItemsSql)),

    // TPC-H Q18 shape: HAVING on a grouped sum, then global top-k.
    Query("q18_large_orders", (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 150)
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20),
      Sql(largeOrdersSql)),

    // TPC-H Q15 shape: aggregate, then compare to the aggregate's own max
    // — the top-supplier view. Decimal revenue so the max-equality is
    // exact on both engines. The max comes from an empty-partition window
    // OVER THE AGGREGATE (supplier-cardinality rows, dim-scale, so the
    // single-partition window is safe) instead of re-aggregating rev —
    // Catalyst doesn't reuse the rev subplan across a second reference
    // (no ReusedExchange in the audit), so the agg+crossJoin form scanned
    // lineitem twice.
    Query("q15_top_supplier", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
               (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
             .cast("double").as("total_revenue"))
      val top = rev
        .withColumn("__max_rev",
          max(col("total_revenue")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(col("total_revenue") === col("__max_rev"))
      Tables.supplier(s, d)
        .join(top, col("s_suppkey") === col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    },
      Sql("""WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin)),

    // TPC-H Q20 shape: two-level IN chain -> nested left-semi joins
    // (suppliers that ship any 'red %' part).
    Query("q20_red_part_suppliers", (s, d) => {
      val redParts = Tables.part(s, d)
        .filter(col("p_name").startsWith("red ")).select("p_partkey")
      val shippers = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
      Tables.supplier(s, d)
        .join(shippers.select("l_suppkey"), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    },
      Sql("""SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'))""".stripMargin)),

    // TPC-H Q22 shape: uncorrelated scalar-subquery threshold feeding a
    // grouped aggregate (broadcast 1-row cross join, no collect).
    Query("q22_wealthy_segments", (s, d) => {
      val cust = Tables.customer(s, d)
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("__avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
             round(sum(col("c_acctbal").cast("decimal(18,6)")), 2).cast("double").as("totacctbal"))
    },
      Sql("""SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |GROUP BY c_mktsegment""".stripMargin)),

    // TPC-H Q13 shape: LEFT OUTER aggregate join — customers BY how many
    // orders they have, including zero (the only outer-join aggregate
    // distribution in the suite).
    Query("q13_order_distribution", (s, d) => {
      val perCust = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
      perCust.groupBy("c_count").agg(count(lit(1)).as("custdist"))
    },
      Sql("""SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin)),

    // TPC-H Q16 shape: anti-join exclusion + per-group count distinct.
    Query("q16_part_suppliers", (s, d) => {
      val excluded = Tables.supplier(s, d)
        .filter(col("s_name").contains("Supplier#00000001")).select("s_suppkey")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(Tables.part(s, d).filter(col("p_size") <= 15),
          col("l_partkey") === col("p_partkey"))
        .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      Sql("""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 15
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_suppkey = l_suppkey
        |                    AND s_name LIKE '%Supplier#00000001%')
        |GROUP BY p_brand, p_size""".stripMargin)),

    // TPC-H Q19 shape: disjunction of conjunctive predicates — Catalyst
    // extracts the common l_quantity bounds for scan pushdown.
    Query("q19_discounted_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
               (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
             .cast("double").as("revenue"),
             count(lit(1)).as("n")),
      Sql("""SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q17 shape: correlated scalar subquery (per-part average
    // threshold), decorrelated into an aggregate join. Decimal sum: the
    // filtered set is small enough for half-cent boundary sensitivity.
    Query("q17_small_quantity", (s, d) => {
      val li = Tables.lineitem(s, d)
      val threshold = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("t_threshold"))
      li.join(Tables.part(s, d).filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .join(threshold, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("t_threshold"))
        // stable rounding: exact decimal sum -> identical double on both
        // engines -> scaled round at a dyadic boundary (decimal/decimal
        // division would round the quotient at engine-specific scales)
        .agg((round(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0 * 100) / 100.0 + lit(0.0)).as("avg_yearly"),
             count(lit(1)).as("n"))
    },
      Sql("""SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    / 7.0 * 100) / 100.0 + 0.0 AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // TPC-H Q4 shape: EXISTS with a correlated inequality -> left-semi
    // join on the key with the extra predicate in the join condition.
    // TPC-H Q14 shape: conditional revenue share — ratio of two sums over
    // one join, dim side broadcastable.
    Query("q14_promo_share", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(when(col("p_type").startsWith("PROMO"),
                   col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_share"),
          count(lit(1)).as("n")),
      Sql("""SELECT round(
        |  sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) * 100.0 /
        |  sum(l_extendedprice*(1-l_discount)), 4) AS promo_share,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'""".stripMargin)),

    Query("q4_priority_check", (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
               col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
      Sql("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin)),

    // TPC-H Q12 shape: conditional two-way counts per group (sum of CASE).
    Query("q12_shipmode_priority", (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("low_line_count")),
      Sql("""SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus""".stripMargin)),

    // TPC-H Q7 shape: volume shipping between two nations — the nation dim
    // joins TWICE (supplier's and customer's nation) with a disjunctive
    // nation-pair predicate, the classic join-reorder probe. Both nation
    // copies broadcast; the two fact-fact joins shuffle on their keys.
    Query("q7_nation_volume", (s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nkey"))
        .join(n2, col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
               .cast("double").as("revenue"))
    },
      Sql("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin)),

    // TPC-H Q8 shape: market share — a ratio of two conditional sums over
    // an 8-way join with year extraction; nation joins twice (customer's
    // region gate, supplier's share attribution).
    Query("q8_market_share", (s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val vol = col("l_extendedprice").cast("decimal(18,6)") *
                (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("c_nationkey") === col("c_nkey"))
        .join(broadcast(Tables.region(s, d)), col("c_rkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .join(n2, col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        // stable 6-digit publication (see Analytics.stableMean4): both
        // decimal sums cast to double, divide, scale by 1e6 BEFORE round
        // so the only round boundary is a dyadic .5 — round(double, 6)
        // directly can flip on .xx5-representational boundaries between
        // engines (the repo's own q11 note)
        .agg((round(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0).cast("decimal(18,6)")))
            .cast("double") /
          sum(vol).cast("double") * 1000000) / 1000000.0 + lit(0.0)).as("mkt_share"),
          count(lit(1)).as("n"))
    },
      Sql("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(
        |    CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE)
        |    * 1000000) / 1000000.0 + 0.0 AS mkt_share,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |GROUP BY year(o_orderdate)""".stripMargin)),

    // TPC-H Q9 shape: product-type profit by (nation, year) — part-name
    // filter, supplier-nation attribution, year extraction; the profit
    // proxy omits ps_supplycost (no partsupp table in the testdata).
    Query("q9_product_profit", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").contains("bolt")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
                 year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
               .cast("double").as("profit"),
             count(lit(1)).as("n")),
      Sql("""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS profit,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin)),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS chain over the same fact —
    // suppliers who were the LAST to ship in a multi-supplier finished
    // order (l_shipdate stands in for receipt-vs-commit lateness; the
    // testdata has no l_commitdate/l_receiptdate). Semi-join proves
    // another supplier exists in the order; anti-join proves none shipped
    // later.
    Query("q21_waiting_suppliers", (s, d) => {
      // Single-scan window rewrite of the EXISTS / NOT EXISTS chain (the
      // oracle stays the literal three-reference SQL, so the driver gate
      // proves the rewrite). A row "waits" iff its order is F-status, the
      // order has >= 2 suppliers, and NO other supplier shipped later —
      // i.e. l_shipdate >= max(shipdate over the order's OTHER suppliers).
      // That max is derived from per-supplier maxima: with t1 = best
      // supplier max in the order, t2 = best among the rest, a given
      // supplier's "other max" is t1 unless it alone holds t1 (then t2).
      // The literal form scans the fact three times and runs two fact-fact
      // semi/anti joins; this shape scans it ONCE — the (ok, sk) exchange
      // feeds both the per-supplier aggregate and the join probe
      // (ReuseExchange), and the t1/t2 windows run over the tiny aggregate.
      val fOrders = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      val rows = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      val perSupp = rows.groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(col("l_shipdate")).as("smax"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ok")
      val ps = perSupp
        .withColumn("nsupp", count(lit(1)).over(w))
        .withColumn("t1", max(col("smax")).over(w))
        .withColumn("cnt_t1", sum(when(col("smax") === col("t1"), 1).otherwise(0)).over(w))
        .withColumn("t2", max(when(col("smax") < col("t1"), col("smax"))).over(w))
        .select(col("ok"), col("sk"), col("nsupp"),
          when(col("cnt_t1") >= 2 || col("smax") =!= col("t1"), col("t1"))
            .otherwise(col("t2")).as("max_other"))
      rows
        .join(ps, col("l_orderkey") === col("ok") && col("l_suppkey") === col("sk"))
        .filter(col("nsupp") >= 2 && col("l_shipdate") >= col("max_other"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    },
      Sql(waitingSuppliersSql)),

    // TPC-H Q11 shape: group HAVING against a GLOBAL scalar aggregate —
    // parts whose revenue exceeds 1.2x the MEAN part revenue (1-row
    // broadcast threshold, no collect). The threshold is relative to the
    // mean, not a fixed fraction of the total, so the row count is
    // scale-invariant (TPC-H divides its Q11 fraction by SF for the same
    // reason). The comparison runs in DOUBLE on both engines with the
    // identical operation order — the exact decimal sums convert to the
    // same doubles everywhere, and IEEE `cmp` on identical doubles cannot
    // diverge (a decimal `value*n > total*1.2` would overflow
    // decimal(38) precision and get silently rounded at scale 6).
    Query("q11_important_parts", (s, d) => {
      val vol = col("l_extendedprice").cast("decimal(18,6)") *
                (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
      val perPart = Tables.lineitem(s, d).groupBy("l_partkey").agg(sum(vol).as("__value"))
      val global = perPart.agg(sum(col("__value")).as("__total"),
                               count(lit(1)).as("__nparts"))
      perPart.crossJoin(broadcast(global))
        .filter(col("__value").cast("double") >
                col("__total").cast("double") * 1.2 / col("__nparts"))
        // round the EXACT decimal, then cast: rounding after the double
        // cast hits shortest-repr boundary values (x.xx5 stored as
        // x.xx4999...) that Spark rounds up and DuckDB rounds down
        .select(col("l_partkey"), round(col("__value"), 2).cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey").asc)
    },
      Sql("""WITH v AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS value
        |  FROM lineitem GROUP BY l_partkey),
        |g AS (SELECT sum(value) AS total, count(*) AS nparts FROM v)
        |SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS part_value
        |FROM v, g
        |WHERE CAST(value AS DOUBLE) > CAST(total AS DOUBLE) * 1.2 / nparts
        |ORDER BY part_value DESC, l_partkey""".stripMargin)),

    // TPC-H Q2 shape: correlated MIN subquery — for each small part, the
    // supplier(s) whose line price equals that part's minimum, decorrelated
    // into an aggregate join back on the part key.
    Query("q2_min_cost_supplier", (s, d) => {
      val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey", "l_extendedprice")
      val minPrice = li.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min(col("l_extendedprice")).as("m_price"))
      li.join(Tables.part(s, d).filter(col("p_size") === 5), col("l_partkey") === col("p_partkey"))
        .join(minPrice, col("l_partkey") === col("m_partkey") &&
                        col("l_extendedprice") === col("m_price"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
                round(col("l_extendedprice"), 2).as("min_price"))
        .distinct()
        .orderBy(col("p_partkey").asc, col("s_suppkey").asc)
    },
      Sql("""SELECT DISTINCT p_partkey, s_suppkey, s_name,
        |  round(l_extendedprice,2) AS min_price
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size = 5
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
        |                         WHERE l2.l_partkey = p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin))))
}
