// In the Spark namespace for the same reason as Kernels.
package org.apache.spark.sql.graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a Bloom filter built at the driver (a
  * `treeAggregate` of `BloomFilter.create` merges — see
  * `Text.bloomDecontaminate` for why not `stat.bloomFilter`) and shipped
  * to executors inside the expression — the no-shuffle decontamination
  * primitive: the corpus side never joins, it streams past a few-MB
  * sketch.
  *
  * Probes via `mightContainBinary` on the UTF8 bytes — the exact
  * counterpart of the builder's `putBinary(utf8)` — so build and probe
  * agree byte-for-byte. Bloom guarantees no false negatives; the
  * false-positive rate is the builder's `fpp`.
  *
  * The task ships only the sketch bytes; each task lazily deserializes
  * them once and probes the filter — no UDF, no boxed lambda.
  */
case class BloomMightContainString(child: Expression, sketch: ContentKeyed[Array[Byte]])
  extends Kernel1[UTF8String, Boolean] {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val filter = BloomFunctions.read(sketch)

  def kernel(s: UTF8String): Boolean = filter.mightContainBinary(s.getBytes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Long-key twin of [[BloomMightContainString]] — probes via
  * `mightContainLong`, the exact counterpart of a builder that
  * `putLong`s, so join keys never round-trip through strings. This is
  * the probe side of the bloom-prune join (graft.joins.Joins): the big
  * side streams past the sketch in its scan stage and rows that cannot
  * match never reach the shuffle.
  */
case class BloomMightContainLong(child: Expression, sketch: ContentKeyed[Array[Byte]])
  extends Kernel1[Long, Boolean] {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains_long"

  @transient private lazy val filter = BloomFunctions.read(sketch)

  def kernel(v: Long): Boolean = filter.mightContainLong(v)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of a string array's elements that might be in the Bloom filter
  * — the hot-path form of the probe. `size(filter(arr, g =>
  * bloomContains(g)))` would route through ArrayFilter, a
  * CodegenFallback HOF: interpreted dispatch per element plus an
  * intermediate filtered array allocated just to measure it. This is one
  * tight loop per row. Null elements count as not-contained (shingle
  * arrays never contain them).
  */
case class BloomCountContained(child: Expression, sketch: ContentKeyed[Array[Byte]])
  extends Kernel1[ArrayData, Long] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bloom_count"

  @transient private lazy val filter = BloomFunctions.read(sketch)

  def kernel(arr: ArrayData): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          filter.mightContainBinary(arr.getUTF8String(i).getBytes)) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points (wrap the raw bytes in a [[ContentKeyed]]
  * parameter so equal sketches make equal expressions).
  */
object BloomFunctions {
  private def sketch(bytes: Array[Byte]) = new ContentKeyed(bytes, s"bloom ${bytes.length} bytes")
  private[graft] def read(sketch: ContentKeyed[Array[Byte]]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(sketch.value))

  def bloomContains(c: Column, bloomBytes: Array[Byte]): Column =
    ExpressionUtils.column(BloomMightContainString(ExpressionUtils.expression(c), sketch(bloomBytes)))
  def bloomCountContained(c: Column, bloomBytes: Array[Byte]): Column =
    ExpressionUtils.column(BloomCountContained(ExpressionUtils.expression(c), sketch(bloomBytes)))
  def bloomContainsLong(c: Column, bloomBytes: Array[Byte]): Column =
    ExpressionUtils.column(BloomMightContainLong(ExpressionUtils.expression(c), sketch(bloomBytes)))
}
