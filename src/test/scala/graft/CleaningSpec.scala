package graft

import org.apache.spark.sql.types._
import graft.clean.Cleaning

class CleaningSpec extends SparkTestBase {
  import spark.implicits._

  test("nullOutliers nulls only out-of-fence values") {
    // 20 inliers at 1..20 plus two wild outliers
    val df = ((1 to 20).map(_.toDouble) ++ Seq(1e6, -1e6)).toDF("v")
    val (cleaned, nonNull) = Cleaning.nullOutliers(df, Seq("v"))
    assert(nonNull === 22L) // counted before the fence
    assert(cleaned.filter($"v".isNull).count() === 2)
    assert(cleaned.filter($"v".isNotNull).count() === 20)
  }

  test("imputeMedians fills nulls with the current median") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("v")
    val (filled, nonNull) = Cleaning.imputeMedians(df, Seq("v"))
    assert(nonNull === 3L)
    assert(filled.filter($"v".isNull).count() === 0)
    assert(filled.filter($"v" === 2.0).count() === 2) // median of 1,2,3
  }

  test("twoPassClean: median computed AFTER outlier nulling (reference order)") {
    // values: 99 x 10.0, one 10000.0 (outlier beyond the p95 fence), one
    // null. Post-null median = 10.0; the outlier cell must be imputed to
    // 10.0 — pins that the median is computed AFTER nulling, on the fenced
    // column, exactly like transform.py:188.
    val df = (Seq.fill(99)(Some(10.0)) ++ Seq(Some(10000.0), None)).toDF("v")
    val (out, nulled) = Cleaning.twoPassClean(df, Seq("v"))
    assert(nulled === 1L) // the outlier; the pre-existing null is not counted
    assert(out.count() === 101)
    assert(out.filter($"v" === 10.0).count() === 101) // outlier AND null -> 10
  }

  test("twoPassClean fills categorical defaults") {
    val df = Seq((Some(1.0), Some("Rain")), (Some(2.0), None))
      .toDF("v", "cond")
    val out = Cleaning.twoPassClean(df, Seq("v"), Map("cond" -> "Unknown"))._1
    assert(out.filter($"cond" === "Unknown").count() === 1)
  }

  test("empty column list and empty frame are no-ops") {
    val df = Seq(1.0).toDF("v")
    assert(Cleaning.twoPassClean(df, Seq.empty)._1.collect().map(_.getDouble(0)).toSeq === Seq(1.0))
    val empty = Seq.empty[Double].toDF("v")
    assert(Cleaning.twoPassClean(empty, Seq("v"))._1.count() === 0)
  }

  // Edge cases. Each pins the output schema (imputed columns are double)
  // and the values of the reference's order: null the out-of-fence values,
  // then impute the median of what is left.
  private def types(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => f.name -> f.dataType)

  // 1..20, one wild outlier and one null: p05 = 2, p95 = 20, so the fences
  // are [-25, 47]; the outlier goes, and the post-nulling median is 10.5
  // (the median with the outlier kept would be 11)
  private val dirty = (1 to 20).map(Option(_)) ++ Seq(Some(1000000), None)
  private val cleaned = (1 to 20).map(_.toDouble) ++ Seq(10.5, 10.5)

  test("twoPassClean edge case: an all-null numeric column stays null") {
    val df = dirty.zipWithIndex
      .map { case (w, i) => (i.toLong, Option.empty[Double], w.map(_.toDouble)) }
      .toDF("id", "v", "w")
    val out = Cleaning.twoPassClean(df, Seq("v", "w"))._1
    assert(types(out) === Seq("id" -> LongType, "v" -> DoubleType, "w" -> DoubleType))
    val rows = out.orderBy("id").collect()
    assert(rows.forall(_.isNullAt(1)), "no statistic exists, so nothing is imputed")
    assert(rows.map(_.getDouble(2)).toSeq === cleaned)
  }

  test("twoPassClean edge case: a zero-row frame") {
    val df = Seq.empty[(Long, Double, Int)].toDF("id", "v", "n")
    val out = Cleaning.twoPassClean(df, Seq("v", "n"))._1
    assert(types(out) === Seq("id" -> LongType, "v" -> DoubleType, "n" -> DoubleType))
    assert(out.count() === 0)
  }

  test("twoPassClean edge case: an integer-typed numeric column") {
    val df = dirty.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "n")
    assert(types(df) === Seq("id" -> LongType, "n" -> IntegerType))
    val out = Cleaning.twoPassClean(df, Seq("n"))._1
    assert(types(out) === Seq("id" -> LongType, "n" -> DoubleType))
    assert(out.orderBy("id").collect().map(_.getDouble(1)).toSeq === cleaned)
  }
}
