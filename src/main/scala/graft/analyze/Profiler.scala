package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-pass column profiler — the data-quality census every ingest
  * pipeline runs before trusting a new drop: per column, null count,
  * exact distinct count, and canonically formatted min/max. The
  * reference's quality gate is per-record required-key checks
  * (transform.py); this is the corpus-level complement.
  *
  * One `agg` over the table computes every column's stats in a single
  * scan; the per-column rows then pivot out of that one-row frame with a
  * driver-free explode. Exact multi-column distinct counts ride Spark's
  * Expand (input rows x columns before partial aggregation) — fine for
  * typical table widths; at extreme width or at the 100 TB scan, set
  * `spark.graft.approx.aggregates`
  * ([[org.apache.spark.sql.graft.ApproxAggRewrite]]) to swap in
  * `approx_count_distinct` (HLL, no Expand, one pass, merge-able) in a
  * session built with `GraftExtensions`.
  *
  * min/max format canonically by type (fractionals via DECIMAL(28,4) so
  * every engine prints the same digits; timestamps/dates via pinned
  * patterns; everything else via plain string cast) — formatting applies
  * AFTER the min/max aggregate, so the aggregate itself runs on the
  * native type.
  */
object Profiler {

  private def fmt(c: Column, dt: DataType): Column = dt match {
    case _: DoubleType | _: FloatType | _: DecimalType =>
      round(c.cast("double"), 4).cast("decimal(28,4)").cast("string")
    case _: TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case _: DateType => date_format(c, "yyyy-MM-dd")
    case _ => c.cast("string")
  }

  /** Whether min/max (and for maps, even equality/distinct) is defined
    * for the type — the default-all-columns contract must not fail at
    * analysis time because the table happens to carry a map, variant,
    * or interval column. A WHITELIST mirroring Catalyst's
    * `RowOrdering.isOrderable` (null/atomic/struct/array/udt), not a
    * blacklist — an unknown future type degrades to null stats instead
    * of failing the whole profile.
    */
  private def orderable(dt: DataType): Boolean = dt match {
    case NullType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType | BinaryType |
         DateType | TimestampType | TimestampNTZType => true
    // class matches, not the stable identifiers: Spark 4 strings carry a
    // COLLATION (StringType("UTF8_LCASE") != the StringType singleton)
    // and char/varchar survive under preserveCharVarcharTypeInfo — all
    // fully orderable
    case _: StringType | _: CharType | _: VarcharType => true
    case _: DecimalType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true // ANSI intervals order
    case s: StructType => s.fields.forall(f => orderable(f.dataType))
    case a: ArrayType => orderable(a.elementType)
    case u: UserDefinedType[_] => orderable(u.sqlType)
    case _ => false // map, variant, calendar-interval, unknown future types
  }

  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    require(names.forall(types.contains), s"unknown columns in ${names.mkString(",")}")
    // non-orderable columns (maps, variants) keep null/count stats but
    // publish null min/max — they'd otherwise fail the whole profile at
    // analysis time. Maps aren't distinct-countable either (no equality):
    // count their distinct as null too.
    val aggs = count(lit(1)).as("__n") +: names.flatMap { n =>
      val ord = orderable(types(n))
      val comparable = ord // map/variant: no equality, no countDistinct
      val nd =
        if (!comparable) first(lit(null).cast("long"))
        else countDistinct(col(n))
      val (mn, mx) =
        if (ord) (fmt(min(col(n)), types(n)), fmt(max(col(n)), types(n)))
        else (first(lit(null).cast("string")), first(lit(null).cast("string")))
      Seq(count(col(n)).as(s"__nn_$n"), nd.as(s"__nd_$n"),
          mn.as(s"__min_$n"), mx.as(s"__max_$n"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = names.map(n => struct(
      lit(n).as("col_name"), col("__n").as("n_rows"),
      (col("__n") - col(s"__nn_$n")).as("n_nulls"),
      col(s"__nd_$n").as("n_distinct"),
      col(s"__min_$n").as("min_value"), col(s"__max_$n").as("max_value")))
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }
}
