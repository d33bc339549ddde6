package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private def meta(w: Int = 0, h: Int = 0, sr: Int = 0, dur: Long = 0L, fmt: String = "raw") =
    Row(w, h, sr, dur, fmt)

  private lazy val media = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, "image", Array[Byte](1, 2, 3), meta(w = 4000, h = 1000)),
      Row(2L, "image", Array[Byte](1, 2, 3), meta(w = 100, h = 50)),
      Row(3L, "video", Array[Byte](9, 9), meta(dur = 10000L)),
      Row(4L, "audio", null, meta(sr = 16000)))),
    Multimodal.mediaSchema)

  test("blobDedup: identical bytes collapse to the min-id keeper; blob bytes never shuffle") {
    val out = Multimodal.blobDedup(media)
    val byKeeper = out.collect().map { r =>
      r.getLong(1) -> (Option(r.getString(0)), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))
    }.toMap
    assert(byKeeper.keySet === Set(1L, 3L, 4L))
    assert(byKeeper(1L)._2 === 2L && byKeeper(1L)._3 === 3L) // ids 1+2 share bytes
    assert(byKeeper(3L)._2 === 1L && byKeeper(3L)._3 === 2L)
    assert(byKeeper(4L)._1.isEmpty && byKeeper(4L)._2 === 1L) // null blob: null address
    assert(byKeeper(1L)._1 !== byKeeper(3L)._1)
    // the partial aggregate hashes blobs map-side; no exchange may carry
    // the binary column (only the 16-byte address + id/length survive)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2) // partial + final
    assert(!plan.linesIterator.exists(l => l.contains("Exchange") && l.contains("bytes#")),
      "blob bytes must not ride the dedup shuffle")
  }

  test("sampleFrames: n evenly spaced frames per video only") {
    val frames = Multimodal.sampleFrames(media, 4).collect()
    assert(frames.length === 4)
    assert(frames.map(_.getLong(0)).toSet === Set(3L))
    assert(frames.map(r => (r.getInt(1), r.getLong(2))).toSeq ===
      Seq((0, 0L), (1, 2500L), (2, 5000L), (3, 7500L)))
  }

  test("resizePlan: aspect-preserving dims, metadata only (bytes pruned)") {
    val plan = Multimodal.resizePlan(media, maxSide = 1000)
    val rows = plan.collect().map(r => r.getLong(0) ->
      (r.getInt(3), r.getInt(4))).toMap
    assert(rows(1L) === ((1000, 250)))   // 4000x1000 scaled by 0.25
    assert(rows(2L) === ((100, 50)))     // already under the cap
    // column pruning is observable at a file scan: round-trip via parquet
    // and assert the scan's ReadSchema never touches `bytes`
    val dir = java.nio.file.Files.createTempDirectory("graft_media").resolve("t").toString
    media.write.parquet(dir)
    val fromDisk = Multimodal.resizePlan(spark.read.parquet(dir), maxSide = 1000)
    val scan = fromDisk.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse(scan)
    assert(!readSchema.contains("bytes"))
  }

  test("audioWindows: window count rounds up; sample count exact; audio rows only") {
    val m = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "audio", null, meta(sr = 16000, dur = 7000L)), // 1.4 -> 2 windows
        Row(2L, "audio", null, meta(sr = 8000, dur = 5000L)),  // exactly 1 window
        Row(3L, "video", Array[Byte](1), meta(dur = 9000L)))), // not audio
      Multimodal.mediaSchema)
    val out = Multimodal.audioWindows(m, windowMs = 5000).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_samples"))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((2L, 112000L))) // ceil(7000/5000)=2; 7000*16000/1000
    assert(out(2L) === ((1L, 40000L)))
  }

  test("MediaCodec: real PNG encode -> ImageIO decode round-trips the formulas") {
    import graft.multimodal.MediaCodec
    Seq(0L, 1L, 7L, 48L, 12345L).foreach { id =>
      val s = MediaCodec.decodeStats(MediaCodec.encodePng(id))
      val (w, h) = (MediaCodec.imageWidth(id), MediaCodec.imageHeight(id))
      assert(s.width === w && s.height === h, s"id $id dims")
      val a = MediaCodec.colorA(id); val b = MediaCodec.colorB(id)
      val (wl, wr) = (w / 2, w - w / 2)
      assert(s.sumR === h.toLong * (wl * a._1 + wr * b._1), s"id $id sumR")
      assert(s.sumG === h.toLong * (wl * a._2 + wr * b._2), s"id $id sumG")
      assert(s.sumB === h.toLong * (wl * a._3 + wr * b._3), s"id $id sumB")
    }
  }

  test("MediaCodec: nearest-neighbor resize bounds the long edge, keeps corners") {
    import graft.multimodal.MediaCodec
    Seq(2L, 9L, 47L, 100L, 999L).foreach { id =>
      val resized = MediaCodec.resizePng(MediaCodec.encodePng(id), maxSide = 24)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
      val (w, h) = (MediaCodec.imageWidth(id), MediaCodec.imageHeight(id))
      val (nw, nh) = MediaCodec.resizeDims(w, h, 24)
      assert(img.getWidth === nw && img.getHeight === nh, s"id $id dims")
      assert(math.max(nw, nh) <= math.max(24, 1))
      // aspect: never upscaled
      assert(nw <= w && nh <= h)
      val a = MediaCodec.colorA(id); val b = MediaCodec.colorB(id)
      assert((img.getRGB(0, 0) & 0xFFFFFF) === ((a._1 << 16) | (a._2 << 8) | a._3))
      assert((img.getRGB(nw - 1, 0) & 0xFFFFFF) === ((b._1 << 16) | (b._2 << 8) | b._3))
    }
  }

  test("MediaCodec: real WAV encode -> javax.sound decode round-trips the formulas") {
    import graft.multimodal.MediaCodec
    Seq(0L, 3L, 1599L, 4242L).foreach { id =>
      val s = MediaCodec.decodeWavStats(MediaCodec.encodeWav(id))
      assert(s.sampleRate === 8000)
      assert(s.nSamples === MediaCodec.audioSamples(id).toLong, s"id $id frames")
      assert(s.peak === MediaCodec.audioAmp(id), s"id $id peak")
      assert(s.sumAbs === MediaCodec.audioSamples(id).toLong * MediaCodec.audioAmp(id))
    }
  }

  test("image/audio decode operators run the real codecs through mapPartitions") {
    val dir = "/root/testdata/sf0.001"
    val img = Multimodal.imageDecodeStats(Multimodal.syntheticImageTable(spark, dir))
    val one = img.filter(col("media_id") === 5L).collect()(0)
    assert(one.getAs[Int]("width") === 16 + 5 % 48)
    assert(one.getAs[Int]("height") === 16 + (5 / 3) % 32)
    assert(img.count() > 0)
    val wav = Multimodal.wavDecodeStats(Multimodal.syntheticWavTable(spark, dir))
    val w5 = wav.filter(col("media_id") === 5L).collect()(0)
    assert(w5.getAs[Int]("peak") === 1000 + (5 * 7) % 9000)
    assert(w5.getAs[Long]("n_samples") === 800L + 5 % 1600)
    // decode scans split by FILE: a single-file fixture would run every
    // m-query on one core, and a fixture surviving from the previous
    // layout (java.io.tmpdir, keyed by source length + mtime + `_l2`)
    // must never be served
    val src = new org.apache.hadoop.fs.Path(dir, "documents.parquet")
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    val oldKey = s"${fs.getContentSummary(src).getLength}_" +
      s"${fs.getFileStatus(src).getModificationTime}_l2"
    val rows = Tables.documents(spark, dir).count()
    val want = math.min(spark.sparkContext.defaultParallelism.toLong, rows)
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "media_png" -> Multimodal.syntheticImageTable,
      "media_jpg" -> Multimodal.syntheticJpegTable,
      "media_wav" -> Multimodal.syntheticWavTable,
      "media_gif" -> Multimodal.syntheticGifTable).foreach { case (label, table) =>
      // a stale single-file fixture planted under the previous layout's key
      val stale = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_${label}_" + dir.replaceAll("[^A-Za-z0-9.-]", "_") + "_" + oldKey)
      ArtifactKey.rmRecursive(stale)
      Seq((1L, Array[Byte](0))).toDF("media_id", "bytes").coalesce(1)
        .write.parquet(stale.getPath)
      try {
        val df = table(spark, dir)
        val files = df.inputFiles
        assert(files.length >= want, s"$label: ${files.length} files < $want")
        assert(!files.exists(_.contains(stale.getName + "/")),
          s"$label served the previous layout's directory")
        assert(df.count() === rows)
      } finally ArtifactKey.rmRecursive(stale)
    }
  }

  test("content dedup: re-encoded duplicates collapse; byte dedup can't see them") {
    import graft.multimodal.MediaCodec
    // the variant re-encode is byte-distinct but pixel-identical
    Seq(3L, 10L, 123L).foreach { id =>
      val a = MediaCodec.encodePng(id)
      val b = MediaCodec.encodePngVariant(id)
      assert(!java.util.Arrays.equals(a, b), s"id $id: variant must differ in bytes")
      val da = MediaCodec.pixelDigestHex(
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a)))
      val db = MediaCodec.pixelDigestHex(
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
      assert(da === db, s"id $id: pixel digest must be encoding-invariant")
    }
    // operator level: 4 rows, 2 contents, each content in both encodings
    val rows = Seq(
      (1L, MediaCodec.encodePng(7L)), (2L, MediaCodec.encodePngVariant(7L)),
      (3L, MediaCodec.encodePng(8L)), (4L, MediaCodec.encodePngVariant(8L)))
    val media = rows.toDF("media_id", "bytes")
    val content = Multimodal.imageContentDedup(media)
      .collect().map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).toSet
    assert(content === Set((1L, 2L), (3L, 2L)))
    // the byte-level operator sees 4 distinct blobs — the gap content
    // dedup exists to close
    assert(Multimodal.blobDedup(media).count() === 4)
  }

  test("averageHash: decoded grid bits match the formula; JPEG re-encode stays near") {
    import graft.multimodal.MediaCodec
    Seq(0L, 5L, 42L, 100L).foreach { id =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MediaCodec.encodeGridPng(id)))
      val (hi, lo) = MediaCodec.averageHash(img)
      // formula replay: cell v sets bit iff v*64 > sum of all cells
      val cells = for (cy <- 0 until 8; cx <- 0 until 8)
        yield MediaCodec.cellLuma(id, cx, cy).toLong
      val s = cells.sum
      var (ehi, elo) = (0L, 0L)
      cells.zipWithIndex.foreach { case (v, i) =>
        if (v * 64 > s) { if (i >= 32) ehi |= 1L << (i - 32) else elo |= 1L << i }
      }
      assert((hi, lo) === ((ehi, elo)), s"id $id hash bits")
      // perceptual robustness: a lossy JPEG re-encode of the same grid
      // must land within a small hamming distance (solid 8x8 cells align
      // with the DCT grid, so drift is boundary-rounding only)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val jimg = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      val (jhi, jlo) = MediaCodec.averageHash(jimg)
      val hamming = java.lang.Long.bitCount(hi ^ jhi) + java.lang.Long.bitCount(lo ^ jlo)
      assert(hamming <= 4, s"id $id: jpeg re-encode drifted $hamming bits")
    }
  }

  test("perceptualNearDups: same-seed images pair at hamming 0 via chunk blocking") {
    import graft.multimodal.MediaCodec
    val images = Seq(
      (1L, MediaCodec.encodeGridPng(7L)), (2L, MediaCodec.encodeGridPng(7L)),
      (3L, MediaCodec.encodeGridPng(8L)), (4L, MediaCodec.encodeGridPng(9L)))
      .toDF("media_id", "bytes")
    val pairs = Multimodal.perceptualNearDups(images, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) === 0)
    // distinct seeds: whatever their true hamming, pairs <= 3 must agree
    // with the direct hash comparison (no blocking escape)
    val hashes = Multimodal.imageAverageHashes(images).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val brute = hashes.keys.toSeq.sorted.combinations(2).map { case Seq(a, b) =>
      val (h1, l1) = hashes(a); val (h2, l2) = hashes(b)
      ((a, b), java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2))
    }.filter(_._2 <= 3).toMap
    assert(pairs === brute)
  }

  test("perceptualHashPairs: blocked search == brute force over a perturbed variant cluster") {
    import graft.multimodal.MediaCodec
    // one seed content with 25 re-encode variants (≤3 cells inverted)
    // plus an unrelated seed — the perception-CLUSTER corpus shape
    assert(MediaCodec.encodeGridPngVariant(7L, 0L).sameElements(
      MediaCodec.encodeGridPng(7L)), "variant 0 must be the base image")
    val images = ((0L until 25L).map(v => (v, MediaCodec.encodeGridPngVariant(7L, v))) :+
      (100L, MediaCodec.encodeGridPngVariant(8L, 0L))).toDF("media_id", "bytes")
    val got = Multimodal.perceptualHashPairs(images, maxHamming = 3, bucketCap = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val packed = Multimodal.imageAverageHashes(images).collect()
      .map(r => (r.getLong(1) << 32) | r.getLong(2)).distinct
    val brute = packed.combinations(2).map { case Array(a, b) =>
      ((math.min(a, b), math.max(a, b)), java.lang.Long.bitCount(a ^ b))
    }.filter(_._2 <= 3).toMap
    assert(got === brute)
    // the cluster must actually cluster: 1-flip variants sit within
    // hamming 3 of the base perception, so pairs exist
    assert(got.nonEmpty)
  }

  test("perceptualHashPairs: occupancy cap drops hot-cluster mass (observed); cold pairs survive") {
    import graft.multimodal.MediaCodec
    // hot cluster: 48 distinct perceptions of seed 3 — occupancy in the
    // chunks its variants leave untouched far exceeds a cap of 8. Cold
    // pair: seed 5's base + one 1-flip variant (bucket occupancy 2).
    val images = ((0L until 48L).map(v => (v, MediaCodec.encodeGridPngVariant(3L, v))) ++
      Seq((200L, MediaCodec.encodeGridPngVariant(5L, 0L)),
          (201L, MediaCodec.encodeGridPngVariant(5L, 1L)))).toDF("media_id", "bytes")
    val cappedDf = Multimodal.perceptualHashPairs(images, maxHamming = 3, bucketCap = 8)
    val capped = cappedDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Multimodal.perceptualHashPairs(images, maxHamming = 3, bucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size, "the hot cluster must lose pairs under the cap")
    val coldHashes = Multimodal.imageAverageHashes(images)
      .filter(col("media_id") >= 200L).collect()
      .map(r => (r.getLong(1) << 32) | r.getLong(2)).distinct.sorted
    if (coldHashes.length == 2 &&
        java.lang.Long.bitCount(coldHashes(0) ^ coldHashes(1)) <= 3)
      assert(capped.contains((coldHashes(0), coldHashes(1))),
        "the cold near pair must survive the cap")
    val observed = cappedDf.queryExecution.observedMetrics("graft_ahash_bucket_cap")
    assert(observed.getAs[Long]("capped_bucket_rows") > 0L)
  }

  test("audio envelope hash: real WAV decode round-trips the amplitude formula") {
    import graft.multimodal.MediaCodec
    for (id <- Seq(0L, 7L, 42L, 100L)) {
      val (hi, lo) = MediaCodec.envelopeHash(MediaCodec.encodeWavAm(id))
      val amps = (0 until 64).map(w => MediaCodec.windowAmp(id, w).toLong)
      val tot = amps.sum
      var ehi = 0L; var elo = 0L
      for (w <- 0 until 64 if amps(w) * 64 > tot)
        if (w >= 32) ehi |= 1L << (w - 32) else elo |= 1L << w
      assert((hi, lo) === ((ehi, elo)), s"id $id")
      assert(lo != 0L || hi != 0L, "a modulated envelope must set some bits")
    }
  }

  test("audioPerceptualHashPairs: blocked search == brute force over envelope hashes") {
    import graft.multimodal.MediaCodec
    val audio = (0L until 40L).map(s => (s, MediaCodec.encodeWavAm(s)))
      .toDF("media_id", "bytes")
    val got = Multimodal.audioPerceptualHashPairs(audio, maxHamming = 3, bucketCap = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val packed = Multimodal.audioEnvelopeHashes(audio).collect()
      .map(r => (r.getLong(1) << 32) | r.getLong(2)).distinct
    val brute = packed.combinations(2).map { case Array(a, b) =>
      ((math.min(a, b), math.max(a, b)), java.lang.Long.bitCount(a ^ b))
    }.filter(_._2 <= 3).toMap
    assert(got === brute)
    assert(got.nonEmpty, "the AM formula family must produce near pairs")
  }

  test("audio variant fixture: variant 0 is byte-identical to the base, variants " +
       "cluster within the hamming bound; blocked == brute over the cluster") {
    import graft.multimodal.MediaCodec
    assert(MediaCodec.encodeWavAmVariant(7L, 0L).sameElements(
      MediaCodec.encodeWavAm(7L)), "variant 0 must be the base asset")
    // one seed content with 25 re-masters (≤3 windows mirrored) plus an
    // unrelated seed — the perception-CLUSTER corpus shape, on sound
    val audio = ((0L until 25L).map(v => (v, MediaCodec.encodeWavAmVariant(7L, v))) :+
      (100L, MediaCodec.encodeWavAmVariant(8L, 0L))).toDF("media_id", "bytes")
    val hashes = Multimodal.audioEnvelopeHashes(audio).collect()
      .map(r => (r.getLong(0), (r.getLong(1) << 32) | r.getLong(2))).toMap
    // the variant stream produces DISTINCT perceptions near the base
    val base = hashes(0L)
    val distinctNear = hashes.filterKeys(_ < 100L).values.toSet
    assert(distinctNear.size > 1, "variants must be distinct perceptions, not copies")
    assert(hashes.filterKeys(k => k > 0L && k < 100L).values
      .exists(h => h != base && java.lang.Long.bitCount(h ^ base) <= 3),
      "some 1-flip re-master must sit within the hamming bound of the base")
    val got = Multimodal.audioPerceptualHashPairs(audio, maxHamming = 3, bucketCap = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val brute = hashes.values.toSeq.distinct.combinations(2).map { case Seq(a, b) =>
      ((math.min(a, b), math.max(a, b)), java.lang.Long.bitCount(a ^ b))
    }.filter(_._2 <= 3).toMap
    assert(got === brute)
    assert(got.nonEmpty, "the variant cluster must produce near pairs")
  }

  test("perceptualDupClusters: connected components over the hash-pair graph, min-hash labels") {
    import graft.multimodal.MediaCodec
    // seed 7: base + two 1-flip variants — a 3-perception chain/star;
    // seed 8: a lone base perception (no pairs -> absent from output)
    val images = Seq(
      (0L, MediaCodec.encodeGridPngVariant(7L, 0L)),
      (1L, MediaCodec.encodeGridPngVariant(7L, 1L)),
      (2L, MediaCodec.encodeGridPngVariant(7L, 4L)), // second 1-flip variant
      (9L, MediaCodec.encodeGridPngVariant(8L, 0L))).toDF("media_id", "bytes")
    val labels = Multimodal.perceptualDupClusters(images, maxHamming = 3, bucketCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force the expected closure from the decoded hashes
    val hs = Multimodal.imageAverageHashes(images).collect()
      .map(r => (r.getLong(1) << 32) | r.getLong(2)).distinct
    val pairs = hs.combinations(2).filter { case Array(a, b) =>
      java.lang.Long.bitCount(a ^ b) <= 3 }.map(a => (a(0), a(1))).toSeq
    assert(pairs.nonEmpty, "fixture must produce at least one near pair")
    val expected = {
      val parent = scala.collection.mutable.Map(
        pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(h => h -> h): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(h => h -> find(h)).toMap
    }
    assert(labels === expected)
  }

  test("JPEG codec: dims exact through the lossy round trip, channels near-exact") {
    import graft.multimodal.MediaCodec
    Seq(0L, 11L, 777L).foreach { id =>
      val s = MediaCodec.decodeStats(MediaCodec.encodeJpeg(id))
      val (w, h) = (MediaCodec.imageWidth(id), MediaCodec.imageHeight(id))
      assert(s.width === w && s.height === h, s"id $id dims")
      // lossy fidelity gate: per-channel MEAN within 8/255 of the exact
      // PNG content (DCT ringing + chroma subsampling on the half
      // boundary; solid regions dominate)
      val exact = MediaCodec.decodeStats(MediaCodec.encodePng(id))
      val n = (w * h).toDouble
      Seq((s.sumR, exact.sumR), (s.sumG, exact.sumG), (s.sumB, exact.sumB))
        .foreach { case (got, want) =>
          assert(math.abs(got / n - want / n) <= 8.0,
            s"id $id: jpeg channel mean drifted ${math.abs(got / n - want / n)}")
        }
    }
  }

  test("audioWindowFeatures: real PCM cut into windows, partial tail, exact means") {
    import graft.multimodal.MediaCodec
    // pick an id with a known non-multiple length: n = 800 + id % 1600
    val id = 1599L // n = 2399 -> windows 1000, 1000, 399
    val amp = MediaCodec.audioAmp(id)
    val ws = MediaCodec.decodeWavWindows(MediaCodec.encodeWav(id), 1000)
    assert(ws.map(_._1) === Seq(1000L, 1000L, 399L))
    assert(ws.forall { case (n, sum) => sum == n * amp })
    val df = Multimodal.audioWindowFeatures(
      Seq((id, MediaCodec.encodeWav(id))).toDF("media_id", "bytes"), 1000)
    val rows = df.orderBy("window_idx").collect()
    assert(rows.map(_.getAs[Long]("n_in_window")).toSeq === Seq(1000L, 1000L, 399L))
    assert(rows.forall(_.getAs[Long]("mean_abs") === amp.toLong))
  }

  test("incrementalContentNew: re-encoded corpus content dies, novel content survives") {
    import graft.multimodal.MediaCodec
    val corpus = Seq((1L, MediaCodec.encodePng(7L)), (2L, MediaCodec.encodePng(8L)))
      .toDF("media_id", "bytes")
    val batch = Seq(
      (10L, MediaCodec.encodePngVariant(7L)), // corpus content, NOVEL bytes
      (11L, MediaCodec.encodePng(9L)))        // genuinely new content
      .toDF("media_id", "bytes")
    val kept = Multimodal.incrementalContentNew(
        batch, Multimodal.imagePixelDigests(corpus))
      .collect().map(_.getAs[Long]("media_id")).toSet
    assert(kept === Set(11L), "the re-encoded duplicate must die on decoded content")
  }

  test("digest ledger: indexed probe == inline content-new; reuse never re-decodes") {
    val dir = "/root/testdata/sf0.001"
    val media = Multimodal.syntheticDupImageTable(spark, dir)
    val batch = media.filter(pmod($"media_id", lit(10)) === 0)
    val corpus = media.filter(pmod($"media_id", lit(10)) =!= 0)
    graft.dedup.HashLedger.drop(dir, subset = "digestspec")
    val ledger = Multimodal.ensureDigestLedger(spark, dir, corpus, subset = "digestspec")
    val indexed = Multimodal.incrementalContentNewIndexed(ledger, batch)
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[String]("pixel_md5"))).toSet
    val inline = Multimodal.incrementalContentNew(batch, Multimodal.imagePixelDigests(corpus))
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[String]("pixel_md5"))).toSet
    assert(indexed === inline)
    assert(indexed.nonEmpty)
    // second ensure must read the persisted layout — the corpus thunk
    // (and with it the whole corpus decode) must never re-evaluate
    val again = Multimodal.ensureDigestLedger(spark, dir,
      sys.error("ledger reuse must not re-evaluate the corpus"), subset = "digestspec")
    assert(again.groups === ledger.groups)
    graft.dedup.HashLedger.drop(dir, subset = "digestspec")
  }

  test("streaming micro-batches gate on the standing pixel-digest corpus") {
    // the continuous multimodal-ingest shape: corpus digests computed
    // once, arriving micro-batches keep only content-new assets —
    // per-row membership is batch-independent, so the streamed union
    // must equal the one-shot answer (the HashLedger twin with the
    // codec in front).
    import graft.multimodal.MediaCodec
    val dir = "/root/testdata/sf0.001"
    val media = Multimodal.syntheticDupImageTable(spark, dir)
    val fresh = media.filter(pmod($"media_id", lit(10)) === 0)
    val corpusDigests = Multimodal.imagePixelDigests(
      media.filter(pmod($"media_id", lit(10)) =!= 0)).localCheckpoint()
    val staged = java.nio.file.Files.createTempDirectory("graft_media_stream")
    fresh.filter($"media_id" < 250).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    fresh.filter($"media_id" >= 250).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Multimodal.incrementalContentNew(batch, corpusDigests)
          .collect().foreach(r => got.add(r.getAs[Long]("media_id")))
        ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val expected = Multimodal.incrementalContentNew(fresh, corpusDigests)
      .collect().map(_.getAs[Long]("media_id")).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.nonEmpty && expected.size < fresh.count())
  }

  test("incrementalPerceptualNew: re-crops of corpus perceptions die, novel content survives") {
    import graft.multimodal.MediaCodec
    // corpus: seeds 3 and 5. batch: a 1-flip variant of seed 3 (novel
    // bytes AND pixels, near perception -> must die), seed 5 byte-exact
    // (hamming 0 -> dies), and a seed far from both (survives iff its
    // hash is > 3 bits from each corpus hash — asserted from the hashes
    // rather than assumed).
    val corpus = Seq(
      (10L, MediaCodec.encodeGridPngVariant(3L, 0L)),
      (11L, MediaCodec.encodeGridPngVariant(5L, 0L))).toDF("media_id", "bytes")
    val corpusHashes = Multimodal.packedImageHashes(corpus).localCheckpoint()
    val ch = corpusHashes.collect().map(_.getAs[Long]("ahash"))
    // pick a novel seed whose hash is genuinely far from both corpus hashes
    val novelSeed = (0L until 101L).find { s =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MediaCodec.encodeGridPng(s)))
      val (hi, lo) = MediaCodec.averageHash(img)
      val h = (hi << 32) | lo
      ch.forall(c => java.lang.Long.bitCount(c ^ h) > 3)
    }.get
    val batch = Seq(
      (20L, MediaCodec.encodeGridPngVariant(3L, 1L)), // near seed 3
      (21L, MediaCodec.encodeGridPngVariant(5L, 0L)), // exact seed 5
      (22L, MediaCodec.encodeGridPng(novelSeed))).toDF("media_id", "bytes")
    val out = Multimodal.incrementalPerceptualNew(batch, corpusHashes)
      .collect().map(_.getLong(0)).toSet
    // the 1-flip variant is within hamming 3 of its base unless the
    // global-mean shift cascaded extra bits — derive the truth from the
    // hashes themselves so the assertion is exact either way
    val batchHashes = Multimodal.packedImageHashes(batch).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("ahash")).toMap
    val expected = batchHashes.collect {
      case (id, h) if ch.forall(c => java.lang.Long.bitCount(c ^ h) > 3) => id
    }.toSet
    assert(out === expected)
    assert(!out.contains(21L), "byte-exact corpus content must never survive")
    assert(out.contains(22L), "novel perception must survive")
  }

  test("perceptualGateStream: streamed union over micro-batches == one-shot batch answer") {
    import graft.multimodal.MediaCodec
    val dir = "/root/testdata/sf0.001"
    // standing corpus: the seedMod-101 grid universe; arriving batches:
    // the seedMod-61 fixture (perception overlap wherever a 61-seed hash
    // lands within hamming 3 of a 101-seed hash)
    val corpus = Multimodal.syntheticGridImageTable(spark, dir)
      .filter(pmod($"media_id", lit(10)) =!= 0)
    val corpusHashes = Multimodal.packedImageHashes(corpus).localCheckpoint()
    val fresh = Multimodal.syntheticGridImageTable(spark, dir, seedMod = 61)
      .filter(pmod($"media_id", lit(10)) === 0)
    val staged = java.nio.file.Files.createTempDirectory("graft_percept_stream")
    fresh.filter($"media_id" < 250).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    fresh.filter($"media_id" >= 250).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val stream = spark.readStream.schema(fresh.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = Multimodal.perceptualGateStream(corpusHashes, stream) { surv =>
      surv.collect().foreach(r => got.add(r.getAs[Long]("media_id")))
    }
    try q.processAllAvailable() finally q.stop()
    val expected = Multimodal.incrementalPerceptualNew(fresh, corpusHashes)
      .collect().map(_.getAs[Long]("media_id")).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
  }

  test("animated GIF: real frame-by-frame decode round-trips the formulas") {
    import graft.multimodal.MediaCodec
    Seq(0L, 3L, 7L, 42L).foreach { id =>
      val frames = MediaCodec.decodeGifFrames(MediaCodec.encodeGif(id))
      assert(frames.size === MediaCodec.gifFrameCount(id), s"id $id frame count")
      frames.foreach { f =>
        val c = MediaCodec.gifFrameColor(id, f.frameIdx)
        assert(f.width === MediaCodec.gifWidth && f.height === MediaCodec.gifHeight)
        assert((f.meanR, f.meanG, f.meanB) === c, s"id $id frame ${f.frameIdx}")
      }
    }
    // sampling: floor(F*i/n) indices; duplicates when n > F
    val s = Multimodal.sampleGifFrames(
      Seq((9L, MediaCodec.encodeGif(9L))).toDF("media_id", "bytes"), n = 4)
      .orderBy("sample_idx").collect()
    val nf = MediaCodec.gifFrameCount(9L) // 3
    assert(s.map(_.getAs[Int]("frame_idx")).toSeq ===
      (0 until 4).map(i => nf * i / 4))
  }

  test("MediaIngestPipeline: one keeper per novel content across batches and variants") {
    import graft.multimodal.{MediaCodec, MediaIngestPipeline}
    // corpus knows content 7; the stream delivers (batch1) a byte-variant
    // of 7 plus novel 8, then (batch2) ANOTHER copy of 8 plus novel 9.
    // Exactly one keeper must exist for 8 (the batch-1 one) and one for
    // 9; content 7 must never be admitted.
    val corpus = Seq((100L, MediaCodec.encodePng(7L))).toDF("media_id", "bytes")
    val corpusDigests = Multimodal.imagePixelDigests(corpus).localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("graft_media_pipe")
    val in = tmp.resolve("in"); val out = tmp.resolve("out"); val ck = tmp.resolve("ck")
    val b1 = Seq((10L, MediaCodec.encodePngVariant(7L)), (11L, MediaCodec.encodePng(8L)))
      .toDF("media_id", "bytes")
    val b2 = Seq((20L, MediaCodec.encodePngVariant(8L)), (21L, MediaCodec.encodePng(9L)))
      .toDF("media_id", "bytes")
    b1.write.parquet(in.resolve("f1").toString)
    val cfg = MediaIngestPipeline.Config(
      inputDir = in.toString + "/*", checkpointDir = ck.toString,
      outputDir = out.toString, schema = b1.schema, corpusDigests = corpusDigests)
    val q1 = MediaIngestPipeline.start(spark, cfg, drain = true)
    q1.awaitTermination()
    b2.write.parquet(in.resolve("f2").toString)
    val q2 = MediaIngestPipeline.start(spark, cfg, drain = true)
    q2.awaitTermination()
    val kept = spark.read.parquet(out.toString)
      .collect().map(r => r.getAs[Long]("media_id")).sorted
    assert(kept.toSeq === Seq(11L, 21L),
      "one first-seen keeper per novel content; corpus-known and repeats die")
  }

  test("spreadBySize partitions by payload volume") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    try {
      val spread = Multimodal.spreadBySize(media, targetBytesPerPartition = 2L)
      assert(spread.rdd.getNumPartitions >= 3) // AQE splits ~8 payload bytes / 2 per part
      assert(spread.count() === 4)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
