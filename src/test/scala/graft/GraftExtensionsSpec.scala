package graft

import org.scalatest.funsuite.AnyFunSuite

/** The real deployment path of the SQL surface: a session created with
  * the GraftExtensions injector must expose every graft_* function
  * WITHOUT a manual `GraftFunctions.register` call, and carry the
  * injected ApproxAggRewrite optimizer rule. The sibling specs only
  * exercise the programmatic register path; this one drives the
  * `SparkSessionExtensions` wiring itself via `Builder.withExtensions`
  * — the same injector instance `spark.sql.extensions=...GraftExtensions`
  * runs at first-session creation ([[SparkTestBase.extensionSession]]).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("SparkSessionExtensions wiring: functions resolve, optimizer rule responds to its flag") {
    val s = SparkTestBase.extensionSession
    val r = s.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
      "graft_int8_quantize(array(0.5d, -1.0d)) q, " +
      "graft_linf(array(0.5d, -1.0d)) m").collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getSeq[Byte](1) === Seq[Byte](64, -127))
    assert(r.getDouble(2) === 1.0)
    // the injected rewrite rule listens to its session flag
    s.conf.set("spark.graft.approx.aggregates", "true")
    try {
      // CAST: the rewrite is deliberately restricted to Double children
      // (schema stability); bare 1.0 literals are DECIMAL in SQL
      val plan = s.sql(
        "SELECT percentile(CAST(x AS DOUBLE), 0.5) FROM VALUES (1.0), (2.0) AS t(x)")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("percentile_approx"), s"rewrite did not fire:\n$plan")
    } finally s.conf.set("spark.graft.approx.aggregates", "false")
  }
}
