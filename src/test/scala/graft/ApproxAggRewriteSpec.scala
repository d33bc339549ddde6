package graft

import org.apache.spark.sql.functions._

/** The rewrite as deployed: injected by `GraftExtensions` into a session's
  * operator-optimization batch.
  */
class ApproxAggRewriteSpec extends SparkTestBase {
  override lazy val spark = SparkTestBase.extensionSession
  import spark.implicits._

  private lazy val df = (1 to 1000).map(_.toDouble).toDF("v")

  private def optimizedPlan(q: org.apache.spark.sql.DataFrame): String =
    q.queryExecution.optimizedPlan.toString

  test("flag off: exact median/percentile/count-distinct untouched") {
    spark.conf.set("spark.graft.approx.aggregates", "false")
    val plan = optimizedPlan(df.agg(median($"v"), percentile($"v", lit(0.95)),
      countDistinct($"v")))
    assert(plan.contains("median") && !plan.contains("percentile_approx"))
    assert(plan.contains("count(distinct"))
  }

  test("flag on: rewritten to sketches, results stay sane") {
    spark.conf.set("spark.graft.approx.aggregates", "true")
    try {
      val q = df.agg(
        median($"v").as("med"),
        percentile($"v", lit(0.95)).as("p95"),
        countDistinct($"v").as("nd"))
      val plan = optimizedPlan(q)
      assert(plan.contains("percentile_approx"))
      assert(plan.contains("approx_count_distinct"))
      assert(!plan.contains("count(distinct"))
      val r = q.collect()(0)
      // sketch answers are approximate but tightly bounded on 1..1000
      assert(math.abs(r.getDouble(0) - 500.5) < 10)
      assert(math.abs(r.getDouble(1) - 950.0) < 15)
      assert(math.abs(r.getLong(2) - 1000L) < 200) // HLL++ default rsd 5%
    } finally spark.conf.set("spark.graft.approx.aggregates", "false")
  }

  test("a19 shape: grouped percentiles under the flag hold a rank parity band") {
    // the registered a19 query's exact shape — grouped p50/p95 over real
    // events — run twice: flag off (exact, the oracled default) and flag
    // on (percentile_approx via the rewrite). Parity band is stated in
    // RANK space, the sketch's actual guarantee: at default accuracy the
    // GK rank error on a 200-row group is ~0, so the approx answer must
    // land between the exact percentiles a few rank-percent either side
    // (covers both residual rank error and element-vs-interpolation).
    val dir = "/root/testdata/sf0.001"
    def a19() = graft.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(round(percentile($"value", lit(0.5)), 4).as("p50"),
           round(percentile($"value", lit(0.95)), 4).as("p95"),
           count(lit(1)).as("n"))
    spark.conf.set("spark.graft.approx.aggregates", "false")
    val bands = graft.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(percentile($"value", lit(0.45)).as("p50_lo"),
           percentile($"value", lit(0.55)).as("p50_hi"),
           percentile($"value", lit(0.90)).as("p95_lo"),
           percentile($"value", lit(0.99)).as("p95_hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val exactN = a19().collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    spark.conf.set("spark.graft.approx.aggregates", "true")
    try {
      val q = a19()
      val plan = optimizedPlan(q)
      assert(plan.contains("percentile_approx") && !plan.contains("percentile("),
        "grouped exact percentiles must rewrite under the flag")
      val rows = q.collect()
      assert(rows.map(_.getString(0)).toSet === bands.keySet)
      rows.foreach { r =>
        val (g, p50, p95, n) =
          (r.getString(0), r.getDouble(1), r.getDouble(2), r.getAs[Long]("n"))
        val (lo50, hi50, lo95, hi95) = bands(g)
        assert(n === exactN(g), s"$g: count must be untouched by the rewrite")
        assert(p50 >= lo50 && p50 <= hi50, s"$g: approx p50 $p50 outside exact [p45,p55]=[$lo50,$hi50]")
        assert(p95 >= lo95 && p95 <= hi95, s"$g: approx p95 $p95 outside exact [p90,p99]=[$lo95,$hi95]")
      }
    } finally spark.conf.set("spark.graft.approx.aggregates", "false")
  }

  test("schema is unchanged by the rewrite (Double in, Double out)") {
    spark.conf.set("spark.graft.approx.aggregates", "true")
    try {
      val exact = df.agg(median($"v").as("m")).schema
      spark.conf.set("spark.graft.approx.aggregates", "false")
      val approxOff = df.agg(median($"v").as("m")).schema
      assert(exact === approxOff)
    } finally spark.conf.set("spark.graft.approx.aggregates", "false")
  }
}
