// In the Spark namespace for the same reason as Kernels. Public API
// surface is graft.sim.Similarity's pq* methods, which delegate here.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, ByteType, DataType, DoubleType}

/** Product-quantization kernels (train/encode/search hot loops).
  *
  * PQ splits a d-dim vector into `m` contiguous subvectors of d/m dims
  * and replaces each with the id of its nearest centroid from a
  * per-subspace codebook of `ksub` centroids — a vector becomes `m`
  * bytes (32× smaller than float32 at d=64, m=8). Search computes, per
  * query, one m×ksub table of exact subspace distances (the LUT), then
  * scores any code array with `m` table lookups — the asymmetric
  * distance computation (ADC) of Jégou et al., "Product Quantization
  * for Nearest Neighbor Search" (TPAMI 2011).
  *
  * All three are native kernels for the same reason as [[NearestCells]]:
  * the codebook is a content-keyed parameter read from the expression
  * (never literal doubles in the plan), and the per-row work is a JIT'd
  * primitive loop. The ADC scorer is the
  * corpus-scan hot path — m array reads + m adds per row, no
  * allocation — which is exactly why PQ is the 100 TB embedding-scan
  * format: the scan touches m bytes per vector instead of 4·d.
  */
object PqImpl {

  /** Flatten the (m × ksub × dsub) codebook into one primitive array
    * (centroid c of subspace s starts at (s·ksub + c)·dsub) — one
    * layout shared by encode and LUT so they can never disagree.
    */
  def flatten(codebooks: Seq[Seq[Seq[Double]]]): (Array[Double], Int, Int, Int) = {
    val m = codebooks.length
    val ksub = if (m == 0) 0 else codebooks.head.length
    val dsub = if (ksub == 0) 0 else codebooks.head.head.length
    val flat = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val book = codebooks(s)
      require(book.length == ksub, s"subspace $s has ${book.length} centroids, expected $ksub")
      var c = 0
      while (c < ksub) {
        val cent = book(c)
        require(cent.length == dsub, s"centroid ($s,$c) has dim ${cent.length}, expected $dsub")
        var j = 0
        while (j < dsub) { flat((s * ksub + c) * dsub + j) = cent(j); j += 1 }
        c += 1
      }
      s += 1
    }
    (flat, m, ksub, dsub)
  }

  /** Code array of `v`: per subspace, the id of the centroid with the
    * smallest squared L2 distance to the subvector (ties → lowest id, a
    * strict `<` scan in id order — total and engine-free). A null or
    * missing element reads as 0.0 (embeddings are non-null dense
    * arrays; the fallback keeps the kernel total rather than throwing
    * mid-codegen). Returns m bytes — ksub ≤ 256 by [[PqEncode]]'s
    * require, and code ids are masked back to 0..ksub−1 on read.
    */
  def encode(v: ArrayData, flat: Array[Double], m: Int, ksub: Int, dsub: Int): ArrayData = {
    val n = v.numElements()
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val idx = s * dsub + j
          val x = if (idx < n && !v.isNullAt(idx)) v.getDouble(idx) else 0.0
          val diff = x - flat(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** ADC lookup table of query `v`: m·ksub exact squared L2 distances,
    * entry s·ksub+c = ‖v_s − codebook[s][c]‖². Computed once per query
    * row (queries are the small broadcast side), read m times per
    * corpus row by [[adc]].
    */
  def lut(v: ArrayData, flat: Array[Double], m: Int, ksub: Int, dsub: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val idx = s * dsub + j
          val x = if (idx < n && !v.isNullAt(idx)) v.getDouble(idx) else 0.0
          val diff = x - flat(base + j)
          d += diff * diff
          j += 1
        }
        out(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Approximate squared L2 distance of a code array under a query's
    * LUT: Σ_s lut[s·ksub + code_s]. Accumulation in ascending subspace
    * order (deterministic). The corpus-scan hot loop: m lookups, m
    * adds. `0xFF & code` undoes the byte packing for ksub > 128.
    */
  def adc(lutArr: ArrayData, codes: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var d = 0.0
    var s = 0
    while (s < m) {
      d += lutArr.getDouble(s * ksub + (0xFF & codes.getByte(s)))
      s += 1
    }
    d
  }
}

/** array<double> → array<byte>: PQ code array (one byte per subspace).
  * The codebooks are a content-keyed parameter, flattened once per task
  * into the primitive layout [[PqImpl.flatten]] defines.
  */
case class PqEncode(child: Expression, codebooks: ContentKeyed[Seq[Seq[Seq[Double]]]])
  extends Kernel1[ArrayData, ArrayData] {
  require(codebooks.value.nonEmpty, "PQ codebooks must be non-empty")
  require(codebooks.value.head.length <= 256,
    s"ksub must fit a byte code, got ${codebooks.value.head.length}")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val (flat, m, ksub, dsub) = PqImpl.flatten(codebooks.value)

  def kernel(v: ArrayData): ArrayData = PqImpl.encode(v, flat, m, ksub, dsub)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<double> → array<double>: the per-query ADC lookup table
  * (m·ksub squared subspace distances). Same codebook plumbing as
  * [[PqEncode]].
  */
case class PqLut(child: Expression, codebooks: ContentKeyed[Seq[Seq[Seq[Double]]]])
  extends Kernel1[ArrayData, ArrayData] {
  require(codebooks.value.nonEmpty, "PQ codebooks must be non-empty")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"

  @transient private lazy val (flat, m, ksub, dsub) = PqImpl.flatten(codebooks.value)

  def kernel(v: ArrayData): ArrayData = PqImpl.lut(v, flat, m, ksub, dsub)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (array<double> lut, array<byte> codes) → double: ADC approximate
  * squared L2 distance. The corpus-scan inner loop — no parameter at
  * all, just the two columns and the ksub stride.
  */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
  extends Kernel2[ArrayData, ArrayData, Double] {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"
  override def nullable: Boolean = true

  def kernel(lut: ArrayData, codes: ArrayData): Double = PqImpl.adc(lut, codes, ksub)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points for the PQ expressions. */
object PqFunctions {
  private def books(codebooks: Seq[Seq[Seq[Double]]]) = new ContentKeyed(codebooks,
    s"${codebooks.length}x${codebooks.headOption.fold(0)(_.length)} codebooks")

  def pqEncodeNative(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExpressionUtils.column(PqEncode(ExpressionUtils.expression(v), books(codebooks)))
  def pqLutNative(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExpressionUtils.column(PqLut(ExpressionUtils.expression(v), books(codebooks)))
  def pqAdcNative(lut: Column, codes: Column, ksub: Int): Column =
    ExpressionUtils.column(PqAdc(ExpressionUtils.expression(lut), ExpressionUtils.expression(codes), ksub))
}
