package graft

import java.sql.Timestamp
import graft.analyze.Profiler

class ProfilerSpec extends SparkTestBase {
  // approx mode needs the ApproxAggRewrite rule, which GraftExtensions injects
  override lazy val spark = SparkTestBase.extensionSession
  import spark.implicits._

  private lazy val t = Seq(
    (1L, Some(2.5),  Some("b"), Timestamp.valueOf("2024-01-02 03:04:05")),
    (2L, Some(1.25), None,      Timestamp.valueOf("2024-01-01 00:00:00")),
    (3L, None,       Some("a"), Timestamp.valueOf("2024-01-03 00:00:00")),
    (4L, Some(2.5),  Some("a"), Timestamp.valueOf("2024-01-03 00:00:00"))
  ).toDF("id", "v", "s", "t")

  test("profile: one row per column with nulls, distincts, formatted min/max") {
    val p = Profiler.profile(t).collect().map(r =>
      r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"),
         r.getAs[String]("min_value"), r.getAs[String]("max_value"))).toMap
    assert(p.keySet === Set("id", "v", "s", "t"))
    assert(p("id") === ((4L, 0L, 4L, "1", "4")))
    // fractionals print via DECIMAL(28,4): fixed 4-digit scale
    assert(p("v") === ((4L, 1L, 2L, "1.2500", "2.5000")))
    assert(p("s") === ((4L, 1L, 2L, "a", "b")))
    assert(p("t")._4 === "2024-01-01 00:00:00")
    assert(p("t")._5 === "2024-01-03 00:00:00")
  }

  test("profile: column subset and approx mode") {
    // approx mode is the session's one exact→sketch switch: the
    // ApproxAggRewrite rule turns the profile's count(DISTINCT) into HLL
    spark.conf.set("spark.graft.approx.aggregates", "true")
    try {
      val q = Profiler.profile(t, Seq("id"))
      assert(q.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
      val p = q.collect()
      assert(p.length === 1)
      // HLL estimate of 4 distinct longs is exact at this cardinality
      assert(p(0).getAs[Long]("n_distinct") === 4L)
      // several columns: the rule runs before Spark's distinct-aggregate
      // rewrite, so no exact count(DISTINCT) survives behind an Expand
      val all = Profiler.profile(t).queryExecution.optimizedPlan
      assert(all.collectFirst { case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e }
        .isEmpty, s"multi-column approx profile kept an Expand:\n$all")
      assert(!all.toString.contains("count(distinct"))
    } finally spark.conf.set("spark.graft.approx.aggregates", "false")
  }

  test("profile: non-orderable columns (maps) keep counts, null min/max/distinct") {
    // default-all-columns must not fail at analysis time on a table that
    // happens to carry a map column — min/max (and distinct: maps have
    // no equality) publish null for it, count stats stay real
    val m = Seq(
      (1L, Some(Map("a" -> 1))),
      (2L, None: Option[Map[String, Int]]),
      (3L, Some(Map("b" -> 2)))
    ).toDF("id", "attrs")
    val p = Profiler.profile(m).collect().map(r =>
      r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
         Option(r.getAs[java.lang.Long]("n_distinct")),
         Option(r.getAs[String]("min_value")), Option(r.getAs[String]("max_value")))).toMap
    assert(p("id") === ((3L, 0L, Some(3L), Some("1"), Some("3"))))
    assert(p("attrs") === ((3L, 1L, None, None, None)))
  }

  test("profile: unknown column is rejected") {
    intercept[IllegalArgumentException] {
      Profiler.profile(t, Seq("nope"))
    }
  }
}
