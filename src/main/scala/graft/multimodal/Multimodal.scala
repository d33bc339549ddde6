package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline (north-star extension):
  * image/audio/video as opaque `binary` columns with typed metadata.
  *
  * IMAGE and AUDIO decode are REAL as of round 14 (javax.imageio PNG /
  * javax.sound WAV — both in the JDK's java.desktop, found by the
  * environment re-probe; see [[MediaCodec]] and the m5/m6/m7 oracled
  * queries). VIDEO has no decoder (no ffmpeg/javacv in this
  * environment); the Spark plumbing around it is real and tested: the
  * schema, frame sampling as a generator, and size-aware repartitioning
  * so a few huge blobs can't skew a partition.
  *
  * Scale posture: blobs never pass through a shuffle unless the operation
  * needs it (decode is map-side only); metadata-only projections prune the
  * binary column at the parquet scan, so "count images wider than X" never
  * reads a byte of pixels. When a plan DOES read the blob column, size
  * the vectorized reader's columnar batch by ROW BYTES, not row count:
  * the default `spark.sql.parquet.columnarReaderBatchSize` of 4096 rows
  * over ~200 KB blobs builds ~800 MB column batches PER TASK and dies
  * with "Cannot reserve additional contiguous bytes" under memory
  * pressure (the ×100 probe measured this; it runs at 128). Pair it
  * with [[spreadBySize]], which solves the analogous problem one level
  * up (partition volume).
  */
object Multimodal {

  /** media table schema: one row per asset. Metadata is a typed struct —
    * filters on it push down without touching `bytes`.
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),      // image | audio | video
    StructField("bytes", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType),
      StructField("format", StringType))))))

  /** Frame sampling for video rows: emit `n` evenly-spaced pseudo-frames
    * per asset as (media_id, frame_idx, frame_ms). A real implementation
    * decodes at each timestamp; the sampling plan — a generator producing
    * n rows per input row, no shuffle — is the part that matters at scale.
    */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    // sequence(0, n-1) with n <= 0 would produce a DESCENDING [0, -1]
    // sequence and emit garbage frames
    require(n > 0, s"sampleFrames needs n > 0, got $n")
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("meta.duration_ms").as("duration_ms"))
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => floor(col("duration_ms") * i / n).cast("long"))).as(Seq("frame_idx", "frame_ms")))
  }

  /** Audio chunking plan for audio rows: from (sample_rate, duration_ms)
    * alone, the number of fixed-length windows and the total sample count
    * — the batching arithmetic a feature extractor (fbank/MFCC) needs
    * before touching a byte. Pure metadata projection: the scan never
    * reads `bytes` (same PlanQualitySpec pruning discipline as m1/m2).
    */
  def audioWindows(media: DataFrame, windowMs: Int = 5000): DataFrame = {
    require(windowMs > 0, s"audioWindows needs windowMs > 0, got $windowMs")
    media.filter(col("kind") === "audio")
      .select(col("media_id"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.duration_ms").as("duration_ms"),
        ceil(col("meta.duration_ms").cast("double") / windowMs).cast("long").as("n_windows"),
        (col("meta.duration_ms") * col("meta.sample_rate") / 1000L).cast("long").as("n_samples"))
  }

  /** Metadata-only resize plan: computes target dims preserving aspect
    * ratio entirely from `meta` (no bytes read — check the scan's
    * ReadSchema). The byte-producing resize is the decode stub's twin.
    */
  def resizePlan(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(maxSide) / greatest(w, h), lit(1.0))
    media.filter(col("kind") === "image")
      .select(col("media_id"), w.as("width"), h.as("height"),
        round(w * scale).cast("int").as("target_width"),
        round(h * scale).cast("int").as("target_height"))
  }

  /** Bump when the fixture layout changes. */
  private val fixtureVersion = "v3" // v3: committed through a StoreLog manifest

  private def documentsPath(sfDir: String): String =
    new org.apache.hadoop.fs.Path(sfDir, "documents.parquet").toString

  /** The store of the `label` fixture derived from the current
    * `<sfDir>/documents.parquet` content.
    */
  private[graft] def fixtureRoot(spark: SparkSession, sfDir: String,
                                 label: String): java.io.File =
    graft.ArtifactKey.root("media_fixture", fixtureVersion, documentsPath(sfDir), label,
      spark.sessionState.newHadoopConf())

  /** Caching envelope shared by every documents-derived synthetic asset
    * table: one build-once [[graft.StoreLog]] store per (content-stamped
    * documents source, label), so regenerating the testdata moves the
    * stamp and a stale fixture can never be read; the build drops the
    * fixtures of older stamps. Built ONCE per (source, label); downstream
    * queries measure their own work through a real parquet scan, not the
    * fixture build.
    *
    * Fixture WRITE parallelism is the fixture READ parallelism: the
    * real-codec generators read the SPREAD documents table
    * (Tables.documents, not the raw single-split reader), so the
    * one-time encode pass runs at session width and the written fixture
    * carries ~parallelism files. Before this every fixture was ONE file
    * a few MB wide, and parquet's byte-based split assignment ran every
    * decode query in the family on ONE core (measured: m20's envelope
    * hash was a single 1.19 s task at sf0.1/32 cpus; with the sharded
    * layout the same pass is 0.20-0.27 s). A read-side repartition was
    * measured as the alternative and REJECTED: the blob exchange costs
    * more than it buys at test SFs (m20 0.55 s) and would put blobs
    * through a shuffle, against the family's scale discipline.
    */
  private def cachedDerived(spark: SparkSession, sfDir: String, label: String,
                            readSchema: Option[StructType])(gen: => DataFrame): DataFrame =
    synchronized {
      val src = new org.apache.hadoop.fs.Path(documentsPath(sfDir))
      // checked before the cold path supersedes older stamps: a missing
      // source must not delete the fixtures of the last one it had
      require(src.getFileSystem(spark.sessionState.newHadoopConf()).exists(src),
        s"$label: no documents parquet at $src")
      val leaf = graft.StoreLog.buildOnce(spark, fixtureRoot(spark, sfDir, label), "data")(
        gen.write.parquet(_))
      // memoized handle per (session, path, content fingerprint) — the
      // fixture parquet is immutable once written, so every m-query
      // otherwise re-pays the listing + schema-inference job per call
      graft.ReadCache.cached(spark, "pq", leaf.getPath,
        graft.ReadCache.localFingerprint(leaf)) {
        readSchema.fold(spark.read)(s => spark.read.schema(s)).parquet(leaf.getPath)
      }
    }

  /** Deterministic synthetic media table derived from the `documents`
    * testdata (no media table ships with it): media_id =
    * doc_id, kind cycles image/video/audio, bytes = the document text
    * (stands in for real pixels/samples), metadata derived arithmetically
    * from doc_id — so a SQL oracle can recompute every metadata value
    * without reading a byte of the blobs. Written to parquet once per sf
    * dir and read back, so downstream metadata-only queries go through a
    * REAL parquet scan whose ReadSchema provably excludes `bytes`
    * (PlanQualitySpec gate).
    */
  def syntheticMediaTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedDerived(spark, sfDir, "media", Some(mediaSchema)) {
        graft.Tables(spark, sfDir, "documents")
          .select(
            col("doc_id").as("media_id"),
            element_at(
              array(lit("image"), lit("video"), lit("audio")),
              (col("doc_id") % 3 + 1).cast("int")).as("kind"),
            col("text").cast("binary").as("bytes"),
            struct(
              (lit(200) + col("doc_id") % 1600).cast("int").as("width"),
              (lit(100) + col("doc_id") % 900).cast("int").as("height"),
              lit(16000).as("sample_rate"),
              ((col("doc_id") % 60 + 1) * 1000).cast("long").as("duration_ms"),
              lit("synthetic").as("format")).as("meta"))
    }

  // ------------------------------------------- REAL codec paths (r14)
  // The round-14 environment probe found javax.imageio (PNG/JPEG) and
  // javax.sound (WAV) present in the JDK — so the image and audio decode
  // paths below are REAL codec round trips. Asset generation
  // is deterministic by id with SQL-replicable formulas (MediaCodec), so
  // the DuckDB oracle re-derives every published statistic from the
  // formulas while Spark reads it out of the decoded bytes — matching
  // hashes prove the encode→decode path end-to-end.

  /** Real-PNG image table: one ImageIO-encoded two-tone image per doc id.
    * Cached to parquet once per sf dir (cachedDerived), so decode queries
    * measure decode through a real parquet scan, not the fixture build.
    */
  def syntheticImageTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedDerived(spark, sfDir, "media_png", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, MediaCodec.encodePng(id))))
        .toDF("media_id", "bytes")
    }

  /** Real-JPEG image table — the second JDK image codec (lossy), same
    * caching discipline as the PNG table.
    */
  def syntheticJpegTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedDerived(spark, sfDir, "media_jpg", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, MediaCodec.encodeJpeg(id))))
        .toDF("media_id", "bytes")
    }

  /** Real-WAV audio table: one javax.sound-encoded square-wave clip per
    * doc id (8 kHz mono 16-bit PCM). Same caching discipline.
    */
  def syntheticWavTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedDerived(spark, sfDir, "media_wav", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, MediaCodec.encodeWav(id))))
        .toDF("media_id", "bytes")
    }

  /** Image table with KNOWN duplicate structure: content seed =
    * media_id % `groups`, and every odd id carries the
    * [[MediaCodec.encodePngVariant]] byte-stream variant (tEXt chunk
    * splice) — pixel-identical to the even ids' encoding but a
    * DIFFERENT byte stream. Byte-level dedup
    * (m4's shape) sees ~2 "contents" per seed; decoded-content dedup
    * must see exactly one. `groups` is prime-ish so seed groups spread
    * evenly; distinct seeds always differ in at least width (the color
    * formulas' multipliers share no factor with 256, so two seeds <
    * groups can only collide at offset ±256, where width differs).
    */
  def syntheticDupImageTable(spark: SparkSession, sfDir: String,
                             groups: Int = 397): DataFrame =
    cachedDerived(spark, sfDir, s"media_png_dup$groups", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val seed = id % groups
          val bytes = if (id % 2 == 1) MediaCodec.encodePngVariant(seed)
                      else MediaCodec.encodePng(seed)
          (id, bytes)
        }).toDF("media_id", "bytes")
    }

  /** DECODED-content image dedup — the multimodal curation operator
    * byte-level [[blobDedup]] cannot be: each blob is decoded with the
    * real codec and grouped by the pixel digest, so re-encoded
    * duplicates (different PNG byte streams, identical pixels) collapse
    * to one keeper. Decode and digest are map-side; the shuffle carries
    * (digest, id, width) only — blob bytes never cross an exchange,
    * exactly the m4 discipline with the codec in front.
    */
  def imageContentDedup(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        require(img != null, "ImageIO could not decode the blob")
        (id, MediaCodec.pixelDigestHex(img), img.getWidth)
      }).toDF("media_id", "pixel_md5", "width")
      .groupBy("pixel_md5")
      .agg(min(col("media_id")).as("keeper_id"),
           count(lit(1)).as("n_copies"),
           min(col("width")).as("width"))
      .select("keeper_id", "n_copies", "width")
  }

  /** Per-image decoded pixel digests — the content-address frame
    * [[imageContentDedup]] groups on, exposed as its own operator so
    * incremental/streaming consumers can probe a standing digest corpus
    * (the HashLedger pattern with the codec in front). Map-side decode;
    * output is (media_id, pixel_md5) — two narrow columns.
    */
  def imagePixelDigests(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        require(img != null, "ImageIO could not decode the blob")
        (id, MediaCodec.pixelDigestHex(img))
      }).toDF("media_id", "pixel_md5")
  }

  /** Incremental CONTENT-new media (the d17 incremental-exact shape with
    * the codec in front): batch assets whose decoded pixel content is
    * absent from the standing corpus — re-encoded copies of corpus
    * content die here even though their bytes are novel. Only the batch
    * is decoded per run; the corpus side is the narrow digest frame
    * (persist it like a HashLedger at scale). One anti-join on the
    * 32-char digest.
    */
  def incrementalContentNew(batch: DataFrame, corpusDigests: DataFrame): DataFrame =
    imagePixelDigests(batch)
      .join(corpusDigests.select(col("pixel_md5")), Seq("pixel_md5"), "left_anti")
      .select("media_id", "pixel_md5")

  /** Build-or-reuse the PERSISTED pixel-digest ledger of a media corpus
    * — the [[graft.dedup.HashLedger]] scale posture with the codec in
    * front: the corpus is decoded ONCE at build, only digests persist
    * (partitioned by hash-group), and every later batch's membership
    * check is a DPP-pruned probe that never re-decodes a corpus blob.
    * At 100 TB the decode scan is the dominant cost this amortizes.
    */
  def ensureDigestLedger(spark: SparkSession, dir: String,
                         corpus: => DataFrame,
                         subset: String): graft.dedup.HashLedger.Handle =
    graft.dedup.HashLedger.ensureHashes(spark, dir,
      imagePixelDigests(corpus).select(col("pixel_md5").as("content_md5")),
      idCol = "media_id", textCol = "pixel_md5", subset = subset)

  /** [[incrementalContentNew]] probing the persisted digest ledger:
    * the CORPUS never decodes per run (its digests are the persisted
    * layout); the BATCH decodes twice — the probe references its digest
    * frame on both sides of the membership check, and materializing it
    * would hide the batch's selective predicates and kill the dynamic
    * partition pruning on the corpus-scale ledger scan (see
    * [[graft.dedup.Dedup.incrementalNewByHash]]). Batch ≪ ledger at
    * scale, so two batch decodes for a pruned ledger scan is the right
    * trade. Content-new set identical to the inline path by
    * construction (same digests, same corpus contents).
    */
  def incrementalContentNewIndexed(ledger: graft.dedup.HashLedger.Handle,
                                   batch: DataFrame): DataFrame =
    graft.dedup.Dedup.incrementalNewByHash(ledger,
        imagePixelDigests(batch).select(col("media_id"),
          col("pixel_md5").as("content_md5")), "media_id")
      .select(col("media_id"), col("content_md5").as("pixel_md5"))

  final case class AudioWindowRow(media_id: Long, window_idx: Int,
                                  n_in_window: Long, mean_abs: Long)

  /** Windowed features from REAL decoded PCM — the fbank/MFCC batching
    * shape with actual frames: each clip's decoded samples are cut into
    * fixed `windowSamples` windows (last one partial) and each window
    * publishes its frame count and exact mean |sample| (integer floor
    * division — engine-replicable). Decode is map-side; the per-window
    * rows explode from the decoded buffer without a shuffle.
    */
  def audioWindowFeatures(audio: DataFrame, windowSamples: Int = 1000): DataFrame = {
    require(windowSamples > 0, s"audioWindowFeatures needs windowSamples > 0")
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        val s = MediaCodec.decodeWavWindows(b, windowSamples)
        s.zipWithIndex.map { case ((n, sumAbs), i) =>
          AudioWindowRow(id, i, n, sumAbs / math.max(n, 1L))
        }
      }).toDF()
  }

  final case class ImageStatsRow(media_id: Long, width: Int, height: Int,
                                 sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL image decode: ImageIO.read per blob in a `mapPartitions` batch
    * (the mapInPandas shape), publishing dims + exact per-channel pixel
    * sums read from the decoded raster. Map-side only — no shuffle, and
    * the blob column never crosses an exchange.
    */
  def imageDecodeStats(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val s = MediaCodec.decodeStats(b)
        ImageStatsRow(id, s.width, s.height, s.sumR, s.sumG, s.sumB)
      }).toDF()
  }

  /** Grid-image table for the perceptual-hash family: content seed =
    * media_id % `seedMod`, each image a real 64×64 PNG of formula-gray
    * cells (MediaCodec.encodeGridPng) — so same-seed images are
    * perceptual duplicates and every hash bit is SQL-replicable.
    */
  def syntheticGridImageTable(spark: SparkSession, sfDir: String,
                              seedMod: Int = 101): DataFrame =
    cachedDerived(spark, sfDir, s"media_grid$seedMod", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, MediaCodec.encodeGridPng(id % seedMod))))
        .toDF("media_id", "bytes")
    }

  /** Amplitude-modulated WAV fixture ([[MediaCodec.encodeWavAm]]):
    * `seedMod` envelope contents, each a real RIFF/WAV square wave whose
    * per-window amplitude follows the SQL-replicable formula — the audio
    * twin of the grid-image table, for the envelope-hash perception rung.
    */
  def syntheticAmWavTable(spark: SparkSession, sfDir: String,
                          seedMod: Int = 101): DataFrame =
    cachedDerived(spark, sfDir, s"media_amwav$seedMod", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, MediaCodec.encodeWavAm(id % seedMod))))
        .toDF("media_id", "bytes")
    }

  /** Per-asset 64-bit envelope hash from the REAL decoded PCM
    * ([[MediaCodec.envelopeHash]]) as unsigned 32-bit halves — the audio
    * perception address, mirroring [[imageAverageHashes]]. Map-side
    * decode+hash; three narrow output columns.
    */
  def audioEnvelopeHashes(audio: DataFrame): DataFrame = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val (hi, lo) = MediaCodec.envelopeHash(b)
        (id, hi, lo)
      }).toDF("media_id", "ehash_hi", "ehash_lo")
  }

  /** Verified near-dup AUDIO perception pairs — [[perceptualHashPairs]]
    * with the envelope hash in front: same distinct-universe chunk
    * blocking, same cap discipline (`graft_ahash_bucket_cap`), same
    * output shape `(hash1, hash2, hamming)`. Sound that is "the same
    * track, re-encoded or lightly edited" clusters here the way
    * re-filtered images cluster under the average-hash.
    */
  def audioPerceptualHashPairs(audio: DataFrame, maxHamming: Int = 3,
                               bucketCap: Int = graft.dedup.Dedup.defaultBucketCap): DataFrame =
    hashPairsFromPacked(
      audioEnvelopeHashes(audio).select(col("media_id"),
        shiftleft(col("ehash_hi"), 32).bitwiseOR(col("ehash_lo")).as("__h")),
      maxHamming, bucketCap)
      .select(col("__h1").as("hash1"), col("__h2").as("hash2"), col("hamming"))

  /** Masked grid fixture ([[MediaCodec.encodeGridPngMasked]]): the base
    * seed content with an `(id + cell) % maskMod` inversion mask —
    * genuinely new perceptions at small hamming from the unmasked
    * family, with every hash bit oracle-replicable (the perturbed-
    * variant table below trades that replicability for PRNG-driven
    * cluster growth; this one keeps it, for the incremental oracle).
    */
  def syntheticMaskedGridImageTable(spark: SparkSession, sfDir: String,
                                    seedMod: Int = 101, maskMod: Int = 24): DataFrame =
    cachedDerived(spark, sfDir, s"media_gridmask${seedMod}_$maskMod", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, MediaCodec.encodeGridPngMasked(id, seedMod, maskMod))))
        .toDF("media_id", "bytes")
    }

  /** Perceptual-CLUSTER grid fixture: `seedMod` seed contents, each with
    * an unbounded variant stream (`variant = doc_id / seedMod`,
    * [[MediaCodec.encodeGridPngVariant]] — ≤3 cells luma-inverted), so a
    * bigger corpus has MORE DISTINCT near-identical perceptions of the
    * same content, not just more copies. This is the natural-crawl shape
    * ("same photo, many crops/filters") whose per-cluster distinct-hash
    * growth the scale probe measures against the capped hash-pair join.
    */
  def syntheticPerturbedGridImageTable(spark: SparkSession, sfDir: String,
                                       seedMod: Int = 101): DataFrame =
    cachedDerived(spark, sfDir, s"media_gridvar$seedMod", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, MediaCodec.encodeGridPngVariant(id % seedMod, id / seedMod))))
        .toDF("media_id", "bytes")
    }

  /** Perceptual-cluster AUDIO fixture — the envelope twin of
    * [[syntheticPerturbedGridImageTable]] ([[MediaCodec.encodeWavAmVariant]]:
    * variant = doc_id / seedMod, ≤3 envelope windows mirrored): a bigger
    * corpus has MORE DISTINCT near-identical envelope perceptions per
    * seed content, not just more copies, so the capped audio pair join
    * ([[audioPerceptualHashPairs]]) can be probed under cluster growth
    * exactly the way the image rung was.
    */
  def syntheticPerturbedAmWavTable(spark: SparkSession, sfDir: String,
                                   seedMod: Int = 101): DataFrame =
    cachedDerived(spark, sfDir, s"media_amwavvar$seedMod", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, MediaCodec.encodeWavAmVariant(id % seedMod, id / seedMod))))
        .toDF("media_id", "bytes")
    }

  /** Per-image 64-bit average-hash from the REAL decoded raster,
    * published as unsigned 32-bit halves (MediaCodec.averageHash).
    * Map-side decode+hash; output is three narrow columns.
    */
  def imageAverageHashes(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        require(img != null, "ImageIO could not decode the blob")
        val (hi, lo) = MediaCodec.averageHash(img)
        (id, hi, lo)
      }).toDF("media_id", "ahash_hi", "ahash_lo")
  }

  /** PERCEPTUAL near-dup image pairs — the top rung of the media dedup
    * ladder (bytes → decoded content → perception): average-hashes from
    * the real decode, candidates by pigeonhole chunk blocking on the
    * packed hash (maxHamming + 1 disjoint chunks — the SimHash recipe on
    * pixels instead of tokens, via the shared
    * [[graft.dedup.Dedup.hammingChunks]]), exact hamming verify. One shuffle on
    * (chunk, value); blob bytes never cross an exchange. `bucketCap`
    * bounds per-(chunk, value) occupancy with the shared
    * [[graft.dedup.Dedup]] guard (observed drops, 0 = off).
    * **BEHAVIOR CHANGE (r15): the cap default moved from 0 (off) to
    * [[graft.dedup.Dedup.defaultBucketCap]] (64)** — the distinct-universe
    * argument bounds occupancy per PERCEPTION, not per perception
    * CLUSTER, and the ×100 scale probe's perturbed-variant corpus (one
    * seed content, thousands of near-identical re-encodes with distinct
    * hashes) measured the uncapped chunk join growing quadratically in
    * cluster size exactly like the d19 SimHash blocker (332× for 100×
    * data) before its cap. Pass `bucketCap = 0` to restore the old
    * output; drops ride the `graft_ahash_bucket_cap` observation.
    *
    * NOTE: construction is EAGER — the decode+hash scan runs at call
    * time via `localCheckpoint` (so one decode pass can feed both the
    * distinct-universe search branch and the member-expansion branch),
    * and the materialized hash frame stays pinned on executors for the
    * session. Callers timing "the query" must include the call itself,
    * not just the first action on the returned DataFrame.
    */
  def perceptualNearDups(images: DataFrame, maxHamming: Int = 3,
                         bucketCap: Int = graft.dedup.Dedup.defaultBucketCap): DataFrame = {
    val hashes = packedHashes(images)
      .localCheckpoint() // one decode pass feeds both branches below
    // the blocked search runs over the DISTINCT hash universe — on a
    // dup-heavy corpus orders of magnitude smaller than the image count
    // (the whole point of perceptual dedup), so the chunk self-join's
    // occupancy is per distinct perception, not per copy. Member pairs
    // expand afterwards at output-size cost: equal-hash cliques from one
    // equi-self-join, cross-hash near pairs from the (tiny) verified
    // hash-pair table joined back to each side's members.
    val hashPairs = hashPairsFromPacked(hashes, maxHamming, bucketCap)
    val sameHash = hashes.select(col("__h"), col("media_id").as("id1"))
      .join(hashes.select(col("__h"), col("media_id").as("id2")), Seq("__h"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0).as("hamming"))
    val crossHash = hashPairs
      .join(hashes.select(col("__h").as("__h1"), col("media_id").as("__m1")), Seq("__h1"))
      .join(hashes.select(col("__h").as("__h2"), col("media_id").as("__m2")), Seq("__h2"))
      .select(least(col("__m1"), col("__m2")).as("id1"),
        greatest(col("__m1"), col("__m2")).as("id2"), col("hamming"))
    sameHash.unionByName(crossHash)
  }

  /** Per-image packed 64-bit average-hash (hi half shifted over the lo
    * half) — the single decode+hash scan both perceptual branches run on.
    */
  private def packedHashes(images: DataFrame): DataFrame =
    imageAverageHashes(images)
      .select(col("media_id"),
        shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo")).as("__h"))

  /** Pigeonhole chunk-blocking of a distinct packed-hash frame:
    * `maxHamming + 1` disjoint chunks per hash (any pair within the
    * bound shares at least one) — the blocking key both the self-join
    * pair search and the incremental new×corpus probe shuffle on.
    */
  private def chunkedHashes(uniq: DataFrame, maxHamming: Int): DataFrame =
    uniq.select(col("__h"),
      explode(graft.dedup.Dedup.hammingChunks(col("__h"), maxHamming)).as("cb"))
      .select(col("__h"), col("cb.chunk"), col("cb.ckey"))

  /** The chunk-blocked, hamming-verified pair search over a packed-hash
    * frame — [[perceptualNearDups]]'s distinct-universe stage, factored
    * out so it is independently callable and probe-able without the
    * member-pair expansion (whose output is quadratic in copies per
    * perception BY DEFINITION and therefore excluded from scale probes,
    * the e1/e3 rationale).
    */
  private def hashPairsFromPacked(hashes: DataFrame, maxHamming: Int,
                                  bucketCap: Int): DataFrame = {
    val uniq = hashes.select("__h").distinct()
    val gated = graft.dedup.Dedup.capBuckets(chunkedHashes(uniq, maxHamming),
      Seq("chunk", "ckey"), bucketCap, "graft_ahash_bucket_cap")
    val l = gated.select(col("chunk"), col("ckey"), col("__h").as("__h1"))
    val r = gated.select(col("chunk"), col("ckey"), col("__h").as("__h2"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("__h1") < col("__h2"))
      .select(col("__h1"), col("__h2"),
        bit_count(col("__h1").bitwiseXOR(col("__h2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Verified near-dup PERCEPTION pairs — the distinct-hash-universe
    * search stage of [[perceptualNearDups]] as its own operator, for
    * consumers that want the perception graph (cluster the hashes, THEN
    * decide what to do with members) rather than the expanded member
    * pairs. One decode scan, one shuffle on (chunk, value); output is
    * one row per verified hash pair `(hash1, hash2, hamming)`, bounded
    * by the distinct-perception universe — never by the copy count.
    * `bucketCap` as in [[perceptualNearDups]] (on by default; the
    * quadratic term it bounds is per-CLUSTER distinct-hash occupancy,
    * measured in docs/SCALE_PROBE.md's perturbed-variant probe).
    */
  def perceptualHashPairs(images: DataFrame, maxHamming: Int = 3,
                          bucketCap: Int = graft.dedup.Dedup.defaultBucketCap): DataFrame =
    hashPairsFromPacked(packedHashes(images), maxHamming, bucketCap)
      .select(col("__h1").as("hash1"), col("__h2").as("hash2"), col("hamming"))

  /** Perception CLUSTERS: connected components over the verified
    * hash-pair graph ([[perceptualHashPairs]] →
    * [[graft.dedup.Dedup.dupClusters]] — same union-find / pointer-
    * jumping machinery as the text dup-cluster operator d12, same
    * driver-edge budget). Output is `(id, label)` at HASH granularity
    * (label = min reachable hash); members map to their cluster through
    * their own hash with one broadcast join against this tiny frame, so
    * the transitive closure runs over perceptions, never copies — the
    * property that keeps it feasible on a 100 TB crawl where each viral
    * image has millions of members but few distinct perceptions.
    */
  def perceptualDupClusters(images: DataFrame, maxHamming: Int = 3,
                            bucketCap: Int = graft.dedup.Dedup.defaultBucketCap): DataFrame =
    graft.dedup.Dedup.dupClusters(
      perceptualHashPairs(images, maxHamming, bucketCap)
        .select(col("hash1").as("id1"), col("hash2").as("id2")))

  /** Per-image packed 64-bit average-hash as a PUBLIC narrow frame
    * `(media_id, ahash)` — the perception-level content address. This is
    * what a standing corpus persists so that incremental and streaming
    * consumers never re-decode it (the pixel-digest-ledger posture one
    * rung up the ladder): decode once, probe forever.
    */
  def packedImageHashes(images: DataFrame): DataFrame =
    packedHashes(images).select(col("media_id"), col("__h").as("ahash"))

  /** Incremental PERCEPTUAL-new: batch assets whose perception
    * (average-hash) has NO standing-corpus hash within `maxHamming` —
    * the d15 new×corpus incremental shape at the top rung of the media
    * dedup ladder (bytes m9 → pixels m12 → perception here). A re-crop
    * or light re-filter of corpus content dies even though its bytes
    * AND pixels are novel.
    *
    * Only the batch decodes per run; the corpus side is the narrow
    * [[packedImageHashes]] frame (persist it once — never re-decode the
    * corpus per day). Both distinct-hash universes are pigeonhole
    * chunk-blocked and joined on (chunk, value): cost ∝ batch bucket
    * occupancy, never corpus × corpus. `bucketCap` bounds the CORPUS
    * side's per-bucket occupancy exactly like d15's guard (a batch hash
    * probing a capped-out viral-perception bucket can be declared new —
    * the documented cap trade; drops ride `graft_ahash_corpus_cap`).
    */
  def incrementalPerceptualNew(batch: DataFrame, corpusHashes: DataFrame,
                               maxHamming: Int = 3,
                               bucketCap: Int = graft.dedup.Dedup.defaultBucketCap): DataFrame =
    incrementalPerceptualNewWithCleanup(batch, corpusHashes, maxHamming, bucketCap)._1

  /** [[incrementalPerceptualNew]] plus an explicit release hook for the
    * batch-hash localCheckpoint it pins: the one-shot form can leave the
    * blocks to the ContextCleaner (one frame, freed on driver GC), but a
    * LONG-RUNNING caller invoking this per micro-batch
    * ([[perceptualGateStream]]) would accumulate pinned executor storage
    * until GC happens to run — call the returned cleanup as soon as the
    * result frame has been consumed.
    */
  private[graft] def incrementalPerceptualNewWithCleanup(
      batch: DataFrame, corpusHashes: DataFrame,
      maxHamming: Int = 3,
      bucketCap: Int = graft.dedup.Dedup.defaultBucketCap): (DataFrame, () => Unit) = {
    val b = packedHashes(batch).localCheckpoint() // one batch decode feeds probe + anti
    val bc = chunkedHashes(b.select("__h").distinct(), maxHamming)
    val cc = graft.dedup.Dedup.capBuckets(
      chunkedHashes(corpusHashes.select(col("ahash").as("__h")).distinct(), maxHamming),
      Seq("chunk", "ckey"), bucketCap, "graft_ahash_corpus_cap")
      .withColumnRenamed("__h", "__ch")
    val near = bc.join(cc, Seq("chunk", "ckey"))
      .filter(bit_count(col("__h").bitwiseXOR(col("__ch"))) <= maxHamming)
      .select("__h").distinct()
    val result = b.join(near, Seq("__h"), "left_anti").select("media_id")
    val cleanup = () => b.queryExecution.analyzed match {
      // free the checkpointed RDD's storage blocks without waiting for
      // the ContextCleaner to notice the dereferenced RDD
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
    (result, cleanup)
  }

  /** Streaming twin of [[incrementalPerceptualNew]] (the HashLedger
    * pattern at the perception rung): each arriving
    * micro-batch of media rows is gated against the standing perceptual
    * hash frame; `sink` receives the batch's surviving `media_id` frame.
    * Stateless per batch — results depend only on (batch, corpus), so
    * the streamed union over batches equals the one-shot batch answer
    * (the parity gate in MultimodalSpec).
    */
  def perceptualGateStream(corpusHashes: DataFrame, mediaStream: DataFrame,
                           maxHamming: Int = 3)
                          (sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streaming.microBatches(mediaStream) { (batch, _) =>
      if (!batch.isEmpty) {
        // release each micro-batch's checkpoint blocks once the sink
        // has consumed the frame — a long-running stream must not
        // accumulate pinned executor storage until driver GC
        val (result, cleanup) =
          incrementalPerceptualNewWithCleanup(batch, corpusHashes, maxHamming)
        try sink(result) finally cleanup()
      }
    }

  /** Animated-GIF table: one real multi-frame motion asset per doc id
    * (MediaCodec.encodeGif; frame count and colors formula-derived).
    */
  def syntheticGifTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedDerived(spark, sfDir, "media_gif", None) {
      import spark.implicits._
      graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, MediaCodec.encodeGif(id))))
        .toDF("media_id", "bytes")
    }

  final case class GifFrameRow(media_id: Long, frame_idx: Int,
                               mean_r: Int, mean_g: Int, mean_b: Int)

  /** REAL frame-by-frame motion decode: every frame of every asset,
    * with per-channel means read from the decoded rasters. Map-side
    * flatMap — frames explode from the decode without a shuffle (the
    * m2 frame PLAN upgraded to actual frames, within what this
    * environment's codecs allow).
    */
  def gifFrameStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        MediaCodec.decodeGifFrames(b).map(s =>
          GifFrameRow(id, s.frameIdx, s.meanR, s.meanG, s.meanB))
      }).toDF()
  }

  final case class GifSampleRow(media_id: Long, sample_idx: Int, frame_idx: Int,
                                mean_r: Int, mean_g: Int, mean_b: Int)

  /** REAL evenly-spaced frame sampling — [[sampleFrames]]'s plan made
    * actual: `n` samples per asset at frame floor(F·i/n), each sample's
    * stats from the genuinely decoded frame. Duplicate indices when
    * n > F are intentional (fixed-size sample batch, the training-data
    * loader shape).
    */
  def sampleGifFrames(media: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"sampleGifFrames needs n > 0, got $n")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        // one reader pass, only the sampled frames decoded (O(n) raster
        // work per asset, not O(F)); frameless blobs contribute no rows
        MediaCodec.sampleGifFrameStats(b, n).map { case (i, s) =>
          GifSampleRow(id, i, s.frameIdx, s.meanR, s.meanG, s.meanB)
        }
      }).toDF()
  }

  /** Dims-only decode through the codec's header probe — no raster scan
    * (see [[MediaCodec.decodeDims]]); the m11 surface.
    */
  def imageDecodeDims(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val (w, h) = MediaCodec.decodeDims(b)
        (id, w, h)
      }).toDF("media_id", "width", "height")
  }

  final case class ResizeRow(media_id: Long, out_width: Int, out_height: Int,
                             left_rgb: Int, right_rgb: Int)

  /** REAL resize round trip: decode PNG → nearest-neighbor resample so
    * `maxSide` bounds the longer edge → re-encode PNG → decode AGAIN and
    * publish the re-decoded dims plus the top-left / top-right corner
    * pixels. On the two-tone fixtures those corners are exactly the
    * generative colors (nearest-neighbor preserves them; see
    * MediaCodec.resizePng), so the oracle can assert the full
    * decode→resample→encode→decode chain from the formulas alone.
    */
  def imageResizeStats(images: DataFrame, maxSide: Int): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val resized = MediaCodec.resizePng(b, maxSide)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
        ResizeRow(id, img.getWidth, img.getHeight,
          img.getRGB(0, 0) & 0xFFFFFF,
          img.getRGB(img.getWidth - 1, 0) & 0xFFFFFF)
      }).toDF()
  }

  final case class WavStatsRow(media_id: Long, sample_rate: Int,
                               n_samples: Long, peak: Int, sum_abs: Long)

  /** REAL audio decode: javax.sound WAV parse per blob, publishing the
    * decoded format's sample rate, frame count, and exact peak / summed
    * |amplitude| from the PCM frames. Map-side only.
    */
  def wavDecodeStats(audio: DataFrame): DataFrame = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val s = MediaCodec.decodeWavStats(b)
        WavStatsRow(id, s.sampleRate, s.nSamples, s.peak, s.sumAbs)
      }).toDF()
  }

  /** Content-addressed blob dedup — the multimodal twin of the text
    * pipeline's exact dedup (d1/d2): md5 of the binary column is the
    * content address; one output row per distinct blob with the
    * deterministic keeper (min id), the copy count, and the blob size.
    * Needs no codec — identical assets are identical BYTES regardless of
    * what they encode, which is why content addressing is the first
    * dedup pass of every media corpus.
    *
    * Scale shape: the only pass over the blobs is the map-side scan that
    * hashes them; the shuffle carries (16-byte hash, id, length) via the
    * partial aggregate — blob bytes never cross the wire (spec-gated).
    */
  def blobDedup(media: DataFrame, idCol: String = "media_id"): DataFrame =
    media.groupBy(md5(col("bytes")).as("content_md5"))
      .agg(min(col(idCol)).as("keeper_id"),
           count(lit(1)).as("n_copies"),
           min(length(col("bytes"))).cast("long").as("n_bytes"))

  /** Size-aware spread via AQE rebalance: partition sizing comes from the
    * RUNTIME shuffle statistics (which include the blob bytes) — oversized
    * partitions are split, small ones coalesced toward the advisory size.
    * No synchronous driver-side sum job and no fixed partition count (the
    * previous formulation collected a scalar and repartition(n)'d), so the
    * decision scales with the data it actually sees.
    *
    * Note: `advisoryPartitionSizeInBytes` is a session conf — the setting
    * persists for the session (it also governs AQE coalescing elsewhere);
    * callers who care should save/restore around the write.
    */
  def spreadBySize(media: DataFrame, targetBytesPerPartition: Long = 128L << 20): DataFrame = {
    val spark = media.sparkSession
    if (spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean) {
      spark.conf
        .set("spark.sql.adaptive.advisoryPartitionSizeInBytes", targetBytesPerPartition.toString)
      media.hint("rebalance")
    } else {
      // without AQE the REBALANCE hint degenerates to a plain round-robin
      // at the default partition count and the size bound is silently
      // lost — fall back to the explicit count-from-total-bytes pass
      val totalBytes = media.select(sum(length(col("bytes")))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerPartition).toInt)
      media.repartition(parts)
    }
  }
}
