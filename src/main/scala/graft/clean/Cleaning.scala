package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's statistics-dependent cleaning composite
  * (`/root/reference/src/transform.py:152-205`), §2.9 of SURVEY.md:
  *
  * for each numeric column: p05/p95 → IQR fence → null out-of-fence values
  * → impute **post-nulling** median (order matters, transform.py:188); then
  * categorical null-fill.
  *
  * Plan shape: like the reference's pandas `quantile`/`median`, each
  * statistic is computed once, when the frame is built. Each step runs one
  * small aggregate job whose 1-row result is collected and placed into the
  * returned plan as literals, so every consumer of the cleaned frame is a
  * scan plus a map-side projection and no consumer re-derives the fences or
  * medians. The statistics are exact `percentile`/`median`; the session's
  * one exact→sketch switch, `spark.graft.approx.aggregates`
  * ([[org.apache.spark.sql.graft.ApproxAggRewrite]]), turns them into
  * `percentile_approx`.
  *
  * Batch only: the functions here run jobs when called. On a stream these
  * global statistics become per-window aggregates or a periodically
  * refreshed broadcast — see
  * [[graft.streaming.Streaming.cleanWithStaticBounds]] (SURVEY §7.4 risk 4).
  */
object Cleaning {

  /** Runs the 1-row aggregate `aggs` over `df` and returns each of its
    * values as a literal of the aggregate's own type (a null statistic
    * stays a typed null, so the columns built on it keep their type),
    * together with the number of non-null values in `cols`, counted in
    * the same aggregate.
    */
  private def statistics(df: DataFrame, aggs: Seq[Column],
                         cols: Seq[String]): (Seq[Column], Long) = {
    val all = aggs :+ cols.map(c => count(col(c))).reduce(_ + _)
    val row = df.agg(all.head, all.tail: _*).head()
    val stats = row.schema.map(_.dataType).zipWithIndex.take(aggs.size)
      .map { case (t, i) => lit(row.get(i)).cast(t) }
    (stats, row.getLong(aggs.size))
  }

  /** Null out values outside [q_lo − k·iqr, q_hi + k·iqr] per column.
    * One aggregation job, run when called; the fences enter the plan as
    * literals. Also returns the number of non-null values in `cols`
    * before the fence, counted in the same job.
    */
  def nullOutliers(df: DataFrame, cols: Seq[String], lo: Double = 0.05,
                   hi: Double = 0.95, k: Double = 1.5): (DataFrame, Long) = {
    if (cols.isEmpty) return (df, 0L)
    val boundAggs = cols.flatMap { c =>
      val q1 = percentile(col(c), lit(lo)); val q3 = percentile(col(c), lit(hi))
      Seq(q1 - lit(k) * (q3 - q1), q3 + lit(k) * (q3 - q1))
    }
    val (bounds, nonNull) = statistics(df, boundAggs, cols)
    (cols.zip(bounds.grouped(2)).foldLeft(df) { case (d, (c, Seq(lb, ub))) =>
      d.withColumn(c, when(col(c) < lb || col(c) > ub, lit(null)).otherwise(col(c)))
    }, nonNull)
  }

  /** Fill nulls in each column with that column's median computed on the
    * CURRENT (post-nulling) data — reference transform.py:188 semantics.
    * One aggregation job, run when called; the medians enter the plan as
    * literals. Also returns the number of non-null values in `cols`
    * before the fill, counted in the same job.
    */
  def imputeMedians(df: DataFrame, cols: Seq[String]): (DataFrame, Long) = {
    if (cols.isEmpty) return (df, 0L)
    val (meds, nonNull) = statistics(df, cols.map(c => median(col(c))), cols)
    (cols.zip(meds).foldLeft(df) { case (d, (c, m)) =>
      d.withColumn(c, coalesce(col(c), m))
    }, nonNull)
  }

  /** Full §2.9 composite, in the reference's order: outlier-null →
    * median-impute (on the nulled data) → categorical fill. Two
    * aggregation jobs, run when called. Also returns the number of values
    * the fence nulled: the non-null count before the fence minus the one
    * after it, read from those two jobs.
    */
  def twoPassClean(df: DataFrame, numericCols: Seq[String],
                   categoricalDefaults: Map[String, String] = Map.empty,
                   lo: Double = 0.05, hi: Double = 0.95,
                   k: Double = 1.5): (DataFrame, Long) = {
    val (fenced, before) = nullOutliers(df, numericCols, lo, hi, k)
    val (out, after) = imputeMedians(fenced, numericCols)
    (if (categoricalDefaults.isEmpty) out else out.na.fill(categoricalDefaults), before - after)
  }
}
