package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analyze.Analytics
import graft.text.Text

/** The native aggregates answer the same whatever the input layout: the
  * same rows in one partition, in N partitions, and in the same N
  * partitions in a shuffled order give the same result, as the oracle
  * hashes of the queries built on them require. Each layout changes what
  * the map-side partials hold and the order they merge in.
  */
class AggregateMergeOrderSpec extends SparkTestBase {

  private val n = 8

  /** `rows` as three frames: one partition; `n` partitions of consecutive
    * chunks; the same chunks in a shuffled partition order.
    */
  private def layouts(rows: Seq[Row], schema: StructType): Seq[(String, DataFrame)] = {
    val chunks = rows.grouped(rows.size / n).toSeq
    require(chunks.size == n, s"${rows.size} rows do not split into $n chunks")
    val shuffled = new scala.util.Random(11).shuffle(chunks)
    Seq("1 partition" -> (rows, 1), s"$n partitions" -> (chunks.flatten, n),
        "shuffled partitions" -> (shuffled.flatten, n)).map { case (name, (rs, p)) =>
      name -> spark.createDataFrame(spark.sparkContext.parallelize(rs, p), schema)
    }
  }

  /** Skewed items, `tok<i>` about 2000/(i+1) times, in a seeded order. */
  private lazy val items: Seq[Row] = {
    val all = (0 until 400).flatMap(i => Seq.fill(math.max(1, 2000 / (i + 1)))(s"tok$i"))
    new scala.util.Random(5).shuffle(all).take(all.size / n * n).map(Row(_))
  }
  private val itemSchema = StructType(Seq(StructField("item", StringType)))

  test("SpaceSavingSketch: heavyHitters under eviction gives the exact answer on every layout") {
    // capacity 64 over 400 distinct items: every partial evicts
    val got = layouts(items, itemSchema).map { case (name, df) =>
      name -> Text.heavyHitters(df, col("item"), phiInverse = 50, capacity = 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val total = items.size.toLong
    val threshold = math.max(1L, (total - 1) / 50 + 1)
    val exact = items.groupBy(_.getString(0)).map { case (i, rs) => i -> rs.size.toLong }
      .filter(_._2 >= threshold)
    assert(exact.nonEmpty)
    got.foreach { case (name, hh) => assert(hh === exact, name) }
  }

  test("SpaceSavingSketch: the summary itself is layout-independent while it is exact") {
    // capacity above the distinct count: no eviction, so every estimate
    // is the true count whatever the merge order
    val got = layouts(items, itemSchema).map { case (name, df) =>
      name -> df.agg(org.apache.spark.sql.graft.SketchFunctions
          .spaceSavingSketch(col("item"), 1024).as("sk"))
        .select(explode(col("sk")).as("c")).select("c.item", "c.est")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val exact = items.groupBy(_.getString(0)).map { case (i, rs) => (i, rs.size.toLong) }
      .toSeq.sortBy { case (i, c) => (-c, i) }
    got.foreach { case (name, sk) => assert(sk === exact, name) }
  }

  test("TopKRows: topKPerGroup keeps the same rows and ranks on every layout") {
    // five groups, seven distinct values, so ties decide most ranks
    val rows = new scala.util.Random(3).shuffle((0 until 4000).map(i =>
      Row((i % 5).toLong, (i * 31 % 7).toDouble, i.toLong, s"p$i")))
    val schema = StructType(Seq(StructField("g", LongType), StructField("v", DoubleType),
      StructField("tie", LongType), StructField("payload", StringType)))
    val frames = layouts(rows, schema)
    def top(df: DataFrame) =
      Analytics.topKPerGroup(df, "g", "v", 6, Seq("tie")).collect().map(_.toSeq).toSet
    val expected = Analytics.topKPerGroupWindow(frames.head._2, "g", "v", 6, Seq("tie"))
      .collect().map(_.toSeq).toSet
    assert(expected.size === 30)
    frames.foreach { case (name, df) => assert(top(df) === expected, name) }
  }
}
