package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import scala.jdk.CollectionConverters._

/** Order-independent digests of a pipeline's outputs.
  *
  * Each record (a parquet row, or a line of a text output) is hashed after
  * every decimal number in it is rounded to [[Places]] places; the digest
  * of an output is the sum of its record hashes modulo 2^64, so neither
  * row order nor file layout changes it, while any changed, lost or extra
  * record does.
  */
object Digest {
  val Places = 6

  private val Number = """-?\d+\.\d+(?:[eE][-+]?\d+)?""".r

  private def normalize(line: String): String =
    Number.replaceAllIn(line, m =>
      java.math.BigDecimal.valueOf(m.matched.toDouble)
        .setScale(Places, java.math.RoundingMode.HALF_EVEN).toPlainString)

  private def hash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x2f1e3a5b)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x6c0ffee1)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** Sum of normalized line hashes over every data file under `p`. */
  def textTree(p: Path): Long =
    Fs.dataFiles(p).map { f =>
      Files.readAllLines(f, UTF_8).asScala.foldLeft(0L)((acc, l) => acc + hash64(normalize(l)))
    }.sum

  /** Sum of row hashes of a parquet tree, doubles rounded. */
  def parquet(spark: SparkSession, p: Path): Long = {
    val df: DataFrame = spark.read.parquet(p.toString)
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), Places).as(f.name)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getDecimal(0).toBigInteger.longValue()
  }

  def hex(d: Long): String = f"$d%016x"
}
