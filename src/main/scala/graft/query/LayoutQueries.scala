package graft
package query

import org.apache.spark.sql.functions._

import QuerySupport._

/** The `z` family: data layout: the z-order clustered mirror. */
private[graft] object LayoutQueries {

  val family: Family = Family("z", "data layout (z-order clustered mirror)",
    impl = "graft.sink.ZOrder, o.a.s.sql.graft.ZOrderExpressions",
    specs = "ZOrderSpec", queries = Seq(
    // The scan rides the persisted Z-ORDERED mirror of orders (one-time
    // layout pass, ZOrderMirror.ensure) so BOTH range predicates prune
    // at file/row-group min-max level; the layout is a permutation, so
    // the oracle is the same SQL on the raw table.
    // plan: both range predicates appear in PushedFilters on the mirror read
    Query("z1_zorder_prune", (s, d) => {
      val z = graft.sink.ZOrderMirror.ensure(s, d, "orders",
        Seq("o_totalprice", "o_custkey"))
      z.filter(col("o_totalprice").between(50000, 150000) &&
               col("o_custkey").between(200, 1000))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
             decSum2(col("o_totalprice").cast("decimal(18,6)")).as("revenue"))
    },
      // the z-ordered mirror is a permutation of orders, so the oracle is
      // the same filter+agg on the raw table
      Sql("""SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_totalprice BETWEEN 50000 AND 150000
        |  AND o_custkey BETWEEN 200 AND 1000
        |GROUP BY o_orderstatus""".stripMargin))))
}
