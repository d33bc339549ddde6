package graft

import org.apache.spark.sql.functions._
import graft.quality.Checks

/** [[graft.quality.Checks]] — declarative DQ suites: metric values,
  * pass/fail semantics in both directions, single-scan plan shape, and
  * referential orphan counting (incl. null child keys).
  */
class ChecksSpec extends SparkTestBase {
  import spark.implicits._

  private def t = Seq(
    (1L, Some("a"), 10.0, "en"),
    (2L, Some("b"), 20.0, "en"),
    (3L, None, 30.0, "xx"),
    (3L, Some("d"), -5.0, "de")
  ).toDF("id", "s", "v", "lang")

  test("suite computes metrics and pass flags in both directions") {
    val out = Checks.run(t, Seq(
      Checks.rowCountAtLeast(3.0),
      Checks.completeness("s", 1.0),
      Checks.uniqueness("id", 1.0),
      Checks.minValue("v", 0.0),
      Checks.maxValue("v", 25.0),
      Checks.inSet("lang", Seq("en", "de"), 1.0),
      Checks.matches("lang", "^[a-z]{2}$", 1.0)
    )).as[(String, String, Double, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._5))).toMap
    assert(out(("row_count", "*")) === ((4.0, true)))
    assert(out(("completeness", "s")) === ((0.75, false)))
    assert(out(("uniqueness", "id")) === ((0.75, false)))
    assert(out(("min_value", "v")) === ((-5.0, false)))
    assert(out(("max_value", "v")) === ((30.0, false))) // atMost direction
    assert(out(("in_set", "lang")) === ((0.75, false)))
    assert(out(("matches", "lang")) === ((1.0, true)))
  }

  test("satisfies: cross-column predicates in the aggregate gate AND the " +
       "row router; NULL verdicts fail like in_set/matches") {
    // invariant: "v must exceed 15 whenever s is present" — 'a' (10.0)
    // and 'd' (-5.0) violate; the None row's predicate is TRUE (s
    // absent); a NULL verdict (null-valued comparison) is a violation
    val withNull = t.withColumn("w",
      when(col("id") === 2L, lit(null).cast("double")).otherwise(col("v")))
    val suite = Seq(
      Checks.satisfies("v_when_s", col("s").isNull || col("v") > 15.0, 1.0),
      Checks.satisfies("w_nonneg", col("w") >= 0.0, 0.5))
    val out = Checks.run(withNull, suite)
      .as[(String, String, Double, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._5))).toMap
    assert(out(("satisfies", "v_when_s")) === ((0.5, false)))
    // w: 10.0 ok, NULL fails, 30.0 ok, -5.0 fails -> 0.5, passes at 0.5
    assert(out(("satisfies", "w_nonneg")) === ((0.5, true)))
    // the same declarations route rows: reasons in declaration order
    val routed = Checks.quarantine(withNull, suite)
      .select(col("id"), col("s"), array_join(col("failed_checks"), ",").as("why"))
      .as[(Long, Option[String], String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(routed((1L, Some("a"))) === "satisfies:v_when_s")
    assert(routed((2L, Some("b"))) === "satisfies:w_nonneg") // NULL verdict routes
    assert(routed((3L, None)) === "")
    assert(routed((3L, Some("d"))) === "satisfies:v_when_s,satisfies:w_nonneg")
  }

  test("per-row checks vacuously pass on empty input; row_count catches it") {
    // the gate semantics: an empty table violates no per-row property
    // (metric NULL would make `passed` NULL — unfilterable by a gate
    // selecting passed = false); existence is rowCountAtLeast's job
    val empty = t.filter(lit(false))
    val out = Checks.run(empty, Seq(
      Checks.rowCountAtLeast(1.0),
      Checks.completeness("s", 1.0),
      Checks.uniqueness("id", 1.0),
      Checks.minValue("v", 0.0),
      Checks.maxValue("v", 25.0),
      Checks.inSet("lang", Seq("en"), 1.0),
      Checks.matches("lang", "^[a-z]{2}$", 1.0)
    )).select("check_name", "passed").as[(String, Boolean)].collect().toMap
    assert(out("row_count") === false) // the one that must fire
    assert(out("completeness") && out("uniqueness") && out("min_value") &&
      out("max_value") && out("in_set") && out("matches"))
    // all-null column: no value exists to violate a bound either
    val allNull = Seq((1L, None: Option[Double])).toDF("id", "v")
    val mn = Checks.run(allNull, Seq(Checks.minValue("v", 0.0)))
      .select("passed").as[Boolean].collect()
    assert(mn === Array(true))
    // referential over an empty child: nothing can be an orphan
    val ref = Checks.referential(empty, "id", t, "id", 1.0)
      .select("metric", "passed").as[(Double, Boolean)].collect()
    assert(ref === Array((1.0, true)))
  }

  test("whole suite is one scan of the table") {
    val plan = Checks.run(t, Seq(
      Checks.rowCountAtLeast(1.0),
      Checks.completeness("s", 1.0),
      Checks.minValue("v", 0.0),
      Checks.inSet("lang", Seq("en"), 0.5)
    )).queryExecution.executedPlan.toString
    // no uniqueness => no expand; a single LocalTableScan/scan feeds one
    // aggregate — no join, no union of per-check scans
    assert(!plan.contains("Union"))
    assert(plan.linesIterator.count(_.trim.startsWith("+- LocalTableScan")) === 1)
  }

  test("runByPeriod: period-local metrics, one grouped scan") {
    val ev = Seq(
      ("d1", Some(1.0)), ("d1", None), // completeness 0.5, min 1.0
      ("d2", Some(4.0)), ("d2", Some(2.0)) // completeness 1.0, min 2.0
    ).toDF("day", "v")
    val out = Checks.runByPeriod(ev, col("day"), Seq(
      Checks.completeness("v", 1.0), Checks.minValue("v", 0.0)))
      .as[(String, String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(out(("d1", "completeness")) === 0.5)
    assert(out(("d2", "completeness")) === 1.0)
    assert(out(("d1", "min_value")) === 1.0)
    assert(out(("d2", "min_value")) === 2.0)
    val plan = Checks.runByPeriod(ev, col("day"),
      Seq(Checks.completeness("v", 1.0), Checks.minValue("v", 0.0)))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.trim.startsWith("+- LocalTableScan")) === 1,
      "the whole per-period suite must ride one grouped scan")
  }

  test("driftReport: latest period judged against the trailing mean; " +
       "first-run checks pass vacuously") {
    val hist = Seq(
      ("d1", "completeness", "v", 1.0),
      ("d2", "completeness", "v", 0.9),
      ("d3", "completeness", "v", 0.95),  // latest; trailing mean 0.95
      ("d3", "min_value", "v", 5.0)       // no trailing history
    ).toDF("period", "check_name", "col_name", "metric")
    val out = Checks.driftReport(hist, maxAbsDelta = 0.02).collect()
      .map(r => r.getString(0) -> ((Option(r.get(3)), Option(r.get(4)),
        r.getBoolean(6)))).toMap
    assert(out("completeness") === ((Some(0.95), Some(0.0), true)))
    assert(out("min_value") === ((None, None, true)),
      "a check with no history has nothing to drift from")
    // drift beyond the bound fails
    val hist2 = hist.union(Seq(("d4", "completeness", "v", 0.5))
      .toDF("period", "check_name", "col_name", "metric"))
    val d4 = Checks.driftReport(hist2, maxAbsDelta = 0.02).collect()
      .find(_.getString(0) == "completeness").get
    assert(!d4.getBoolean(6) && d4.getDouble(4) > 0.02)
  }

  test("ReportStore: append builds a history, driftReport judges the newest " +
       "run, compact preserves rows and recovers from a mid-swap crash") {
    import graft.quality.ReportStore
    val path = java.nio.file.Files.createTempDirectory("graft_repstore").toString + "/s"
    def report(m: Double) =
      Seq(("completeness", "v", m)).toDF("check_name", "col_name", "metric")
    ReportStore.append(report(1.0), path, "2024-01-01")
    ReportStore.append(report(0.9), path, "2024-01-02")
    ReportStore.append(report(0.95), path, "2024-01-03")
    val drift = Checks.driftReport(ReportStore.load(spark, path), 0.02).collect()
    assert(drift.length === 1)
    assert(drift(0).getDouble(3) === 0.95 && drift(0).getBoolean(6))
    assert(ReportStore.load(spark, path).count() === 3)
    // compact: one file set, same rows (crash recovery of every
    // committing operation is gated store-wide in StoreLogSpec)
    ReportStore.compact(spark, path)
    assert(ReportStore.load(spark, path).count() === 3)
  }

  test("referential counts orphans and null child keys against the fraction") {
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("k")
    val parent = Seq(1L, 2L).toDF("p")
    val r = Checks.referential(child, "k", parent, "p", 1.0).head()
    assert(r.getAs[Double]("metric") === 0.5) // 2 of 4 resolve
    assert(!r.getAs[Boolean]("passed"))
    assert(r.getAs[String]("col_name") === "k")
  }

  test("quarantine routes violating rows with declaration-ordered reasons; " +
       "null semantics follow each metric's counting") {
    val df = Seq(
      (1L, Some("ok"), Some(5.0), Some("view")),      // clean
      (2L, None,       Some(5.0), Some("view")),      // completeness fails
      (3L, Some("ok"), Some(0.5), Some("view")),      // min_value fails
      (4L, Some("ok"), Some(5.0), Some("error")),     // in_set fails
      (5L, None,       Some(0.5), Some("error")),     // all three fail, in order
      (6L, Some("ok"), None,      Some("view")),      // null value PASSES min_value
      (7L, Some("ok"), Some(5.0), None)               // null type FAILS in_set
    ).toDF("id", "c", "v", "t")
    val out = Checks.quarantine(df, Seq(
      Checks.completeness("c", 1.0),
      Checks.minValue("v", 1.0),
      Checks.inSet("t", Seq("view", "click"), 1.0)))
      .select($"id", $"failed_checks")
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) === Seq())
    assert(out(2L) === Seq("completeness:c"))
    assert(out(3L) === Seq("min_value:v"))
    assert(out(4L) === Seq("in_set:t"))
    assert(out(5L) === Seq("completeness:c", "min_value:v", "in_set:t"))
    assert(out(6L) === Seq())
    assert(out(7L) === Seq("in_set:t"))
  }

  test("quarantine rejects aggregate-only checks loudly") {
    val df = Seq((1L, "a")).toDF("id", "c")
    val ex = intercept[IllegalArgumentException] {
      Checks.quarantine(df, Seq(
        Checks.completeness("c", 1.0), Checks.uniqueness("id", 1.0)))
    }
    assert(ex.getMessage.contains("uniqueness:id"))
  }

  test("quarantine is stateless — the same function routes a stream unchanged") {
    // no watermark, no state store, no output-mode constraint: the
    // router is a pure per-row map, so the BATCH function applies to a
    // readStream frame as-is and every micro-batch row routes exactly
    // like its batch twin
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Option[String], Option[Double])]
    val checks = Seq(Checks.completeness("_2", 1.0), Checks.minValue("_3", 1.0))
    val q = Checks.quarantine(mem.toDF(), checks)
      .writeStream.format("memory").queryName("dq6_stream")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, Option("ok"), Option(5.0)),
        (2L, Option.empty[String], Option(0.5)), (3L, Option("ok"), Option.empty[Double]))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("dq6_stream")
        .select($"_1", $"failed_checks").as[(Long, Seq[String])].collect().toMap
      val batch = Checks.quarantine(rows.toDF("_1", "_2", "_3"), checks)
        .select($"_1", $"failed_checks").as[(Long, Seq[String])].collect().toMap
      assert(got === batch)
      assert(got(2L) === Seq("completeness:_2", "min_value:_3"))
    } finally q.stop()
  }

  test("referentialBloom: the prefilter is answer-invisible — identical report " +
       "to the plain join on orphan-heavy, clean, and null-key fixtures") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Double, Double, Boolean)].collect().toSeq
    // duplicate parent keys: the build inserts the RAW projection (dup
    // inserts are idempotent; row-count sizing just lowers the fpp) and
    // LeftSemi deduplicates the confirming join by construction
    val parent = ((1L to 50L) ++ (1L to 20L)).map(i => i * 3).toDF("p")
    val fixtures = Seq(
      // orphan-heavy: most child keys miss the domain (the screen bites)
      (1L to 200L).map(Option(_)).toDF("k"),
      // clean: every key resolves
      (1L to 50L).map(i => Option(i * 3)).toDF("k"),
      // null keys count as orphans, never probe the bloom
      Seq(Some(3L), None, Some(999L)).toDF("k"))
    fixtures.foreach { child =>
      assert(rows(Checks.referentialBloom(child, "k", parent, "p", 1.0)) ===
        rows(Checks.referential(child, "k", parent, "p", 1.0)))
    }
    // non-integral keys are rejected loudly, not silently mis-hashed —
    // on EITHER side (a fractional/string parent would truncate under the
    // build's long cast and the bloom could disagree with the plain join)
    val strChild = Seq("a").toDF("k")
    val strParent = Seq("a").toDF("p")
    intercept[IllegalArgumentException] {
      Checks.referentialBloom(strChild, "k", strParent, "p", 1.0)
    }
    intercept[IllegalArgumentException] {
      Checks.referentialBloom(Seq(1L).toDF("k"), "k", strParent, "p", 1.0)
    }
    intercept[IllegalArgumentException] {
      Checks.referentialBloom(Seq(1L).toDF("k"), "k",
        Seq(1.5d).toDF("p"), "p", 1.0)
    }
  }

  test("ReportStore: a replayed period is absorbed, not double-counted — " +
       "before and after a compact") {
    import graft.quality.ReportStore
    val path = java.nio.file.Files.createTempDirectory("graft_repstore2").toString + "/s"
    def report(m: Double) =
      Seq(("completeness", "v", m)).toDF("check_name", "col_name", "metric")
    ReportStore.append(report(1.0), path, "b000000000001")
    ReportStore.append(report(0.9), path, "b000000000002")
    // restart replays batch 2 with a corrected metric: REPLACES, not appends
    ReportStore.append(report(0.92), path, "b000000000002")
    val hist = ReportStore.load(spark, path).collect()
    assert(hist.length === 2, "replayed period must not duplicate history")
    assert(hist.find(_.getString(0) == "b000000000002").get
      .getAs[Double]("metric") === 0.92)
    // after a compact folds every period into one directory, a replay of
    // an old period becomes that period's source again
    ReportStore.compact(spark, path)
    ReportStore.append(report(0.92), path, "b000000000002")
    assert(ReportStore.load(spark, path).count() === 2,
      "replay after compact must replace the period, not duplicate it")
    // the drift mean sees each period once
    ReportStore.append(report(0.95), path, "b000000000003")
    val drift = Checks.driftReport(ReportStore.load(spark, path), 0.05).collect()
    assert(drift.length === 1)
    assert(drift(0).getDouble(4) === 0.01) // |0.95 - mean(1.0, 0.92)| rounded
    // the exact use case the per-period overwrite exists for: a
    // post-compact replay that CORRECTS the metric. The replayed row
    // must win DETERMINISTICALLY over the compacted row — an arbitrary
    // survivor would make the drift history flap between runs.
    ReportStore.append(report(0.88), path, "b000000000002")
    val corrected = ReportStore.load(spark, path)
      .filter(col("period") === "b000000000002").collect()
    assert(corrected.length === 1 &&
      corrected(0).getAs[Double]("metric") === 0.88,
      "fresh per-period row must supersede the compacted row")
  }
}
