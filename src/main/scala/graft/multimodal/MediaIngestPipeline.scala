package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.streaming.Streaming

/** End-to-end continuous media-ingest gate — the multimodal twin of
  * [[graft.streaming.StreamingPipeline]]: arriving media micro-batches
  * are decoded (real codec), content-addressed by pixel digest, gated
  * against everything already known (the standing corpus digests PLUS
  * every keeper this pipeline has already admitted), and the surviving
  * first-seen representatives append to the output — so across the
  * stream exactly ONE keeper exists per novel decoded content, no
  * matter how the arrivals are batched or how many byte-variant copies
  * arrive.
  *
  * Scale posture: per batch, only the batch decodes (map-side); the
  * standing side is narrow digest frames (at 100 TB, the corpus side is
  * the persisted [[Multimodal.ensureDigestLedger]] — pass its digest
  * frame as `corpusDigests`); the output is (media_id, pixel_md5) rows.
  * Reading the pipeline's own prior keepers back per batch is one
  * narrow parquet scan that grows with ADMITTED content, not arrivals.
  */
object MediaIngestPipeline {

  case class Config(
      inputDir: String,
      checkpointDir: String,
      outputDir: String,
      schema: StructType, // of the arriving media parquet (media_id, bytes)
      corpusDigests: DataFrame, // standing (pixel_md5) frame; may be empty
      maxFilesPerTrigger: Int = 1)

  /** Keepers admitted so far (empty frame before the first batch). */
  private def admitted(spark: SparkSession, outputDir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(outputDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path) && fs.listStatus(path).exists(_.getPath.getName.endsWith(".parquet")))
      spark.read.parquet(outputDir).select("pixel_md5")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(org.apache.spark.sql.types.StructField(
        "pixel_md5", org.apache.spark.sql.types.StringType))))
  }

  def start(spark: SparkSession, cfg: Config, drain: Boolean = false): StreamingQuery = {
    // materialize the standing corpus digests ONCE per pipeline start:
    // each micro-batch would otherwise re-evaluate the frame —
    // a full corpus re-decode per batch if the caller passed the natural
    // un-materialized imagePixelDigests(corpus)
    val corpusDigests = cfg.corpusDigests.select("pixel_md5").localCheckpoint()
    val stream = spark.readStream.schema(cfg.schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger.toString)
      .parquet(cfg.inputDir)
    Streaming.microBatches(stream, Some(cfg.checkpointDir), drain) { (batch, _) =>
      val standing = corpusDigests
        .unionByName(admitted(spark, cfg.outputDir))
      // decode once per batch row; one representative per NOVEL content
      // (min media_id within the batch — later batches lose to the
      // admitted set read back above)
      val keepers = Multimodal.incrementalContentNew(batch, standing)
        .groupBy("pixel_md5").agg(min(col("media_id")).as("media_id"))
        .select("media_id", "pixel_md5")
      keepers.write.mode("append").parquet(cfg.outputDir)
    }
  }
}
