package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Every native [[Kernel]] expression over the input columns of
  * [[KernelCatalog.schema]], each with a small but real driver-built
  * parameter: the one list the kernel specs iterate. A new kernel class
  * goes here; ContractSpec fails while a concrete [[Kernel]] class is
  * missing from it.
  */
object KernelCatalog {

  /** The input columns the kernels read. */
  val schema: StructType = StructType(Seq(
    StructField("v", ArrayType(DoubleType)), StructField("w", ArrayType(DoubleType)),
    StructField("q", ArrayType(ByteType)), StructField("r", ArrayType(ByteType)),
    StructField("toks", ArrayType(StringType)), StructField("text", StringType),
    StructField("n", LongType)))

  /** Tokens the generated inputs draw from; the parameters below know some. */
  val vocabulary: Seq[String] = Seq("a", "the", "of", "x", "ü", "日本", "😀", "")

  private val bloom: Array[Byte] = {
    val f = BloomFilter.create(100, 0.01)
    Seq("the", "of", "a b", "ü").foreach(t => f.putBinary(t.getBytes(UTF_8)))
    Seq(0L, 1L, -7L, Long.MaxValue).foreach(f.putLong)
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }
  private val unigrams = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double]()
    Seq("a" -> -1.5, "the" -> -0.25, "ü" -> -3.0).foreach { case (t, lp) => m.put(UTF8String.fromString(t), lp) }
    m
  }
  private val bigrams = {
    val inner = new java.util.HashMap[UTF8String, java.lang.Double]()
    inner.put(UTF8String.fromString("the"), -0.5)
    val m = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Double]]()
    m.put(UTF8String.fromString("of"), inner)
    m
  }
  private val books = new ContentKeyed(
    Seq.tabulate(2, 4, 2)((s, c, j) => (s + 1) * (c - 1.5) * (if (j == 0) 1.0 else -0.5)), "2x4")
  private val cents = IvfImpl.centroids(Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0),
    Seq(0.0, 0.0, 1.0), Seq(1.0, 1.0, 1.0), Seq(0.0, 0.0, 0.0)))

  /** Every kernel, reading column `name` through `input(name)`. */
  def all(input: String => Expression): Seq[Kernel] = {
    val (v, w, q, r) = (input("v"), input("w"), input("q"), input("r"))
    val (toks, text, n) = (input("toks"), input("text"), input("n"))
    val sketch = new ContentKeyed(bloom, "bloom")
    Seq(
      DotProduct(v, w), CosineSimilarity(v, w), Int8DotProduct(q, r),
      Int8QuantizeVec(v), MaxAbs(v), SrpBucket(v, 5, 7), NearestCells(v, cents, 2),
      MinHashSignature(toks, 4), LshBandBuckets(toks, 2, 2), LshBandsAndHashes(toks, 2, 2),
      ShingleHashes(toks), SimHash64(toks), CountInSet(toks, Seq("a", "the")),
      Winnow(text, 3, 2), KgramHashes(text, 3), WordShingles(text, 2),
      WordShingles(text, 2, distinct = false), CharShingles(text, 3),
      BloomMightContainString(text, sketch), BloomMightContainLong(n, sketch),
      BloomCountContained(toks, sketch),
      PqEncode(v, books), PqLut(v, books), PqAdc(PqLut(v, books), PqEncode(w, books), 4),
      ZValueExpr(v, new ContentKeyed(Seq(Seq(-1.0, 0.0, 1.0), Seq(0.5)), "2 cols"), 2),
      UnigramLogProbSum(toks, new ContentKeyed(unigrams, "unigrams")),
      BigramLogProbSum(toks, new ContentKeyed(bigrams, "bigrams")))
  }
}
