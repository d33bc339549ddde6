package graft
package query

import org.apache.spark.sql.functions._

/** The `m` family: multimodal operators over the synthetic media fixtures. */
private[graft] object MultimodalQueries {

  /** Formula average-hash of the grid fixtures as a DuckDB CTE: per
    * media_id, the 64 cell lumas (seed = media_id % 101, the
    * [[graft.multimodal.MediaCodec.cellLuma]] small-multiplier formula),
    * the strict cross-multiplied mean test (v·64 > Σcells, exactly the
    * engine's blockSum·totalPx > totalSum·blockPx reduced for equal
    * 8×8 blocks), packed into unsigned 32-bit halves. Built
    * programmatically — 64 CASE terms per half.
    */
  private def ahashCte: String = ahashCteNamed(101, "g", "h", "")

  /** The same formula-hash CTE parameterized for multi-fixture oracles
    * (m19 probes the masked batch fixture against the plain corpus):
    * `seedMod` picks the grid fixture, `maskMod > 0` applies the
    * `(id + cell) % maskMod` inversion mask, `where` filters the doc
    * split, `g`/`h` name the CTEs so two instances coexist per query.
    */
  private def ahashCteNamed(seedMod: Int, g: String, h: String,
                            where: String, maskMod: Int = 0): String = {
    def luma(cx: Int, cy: Int): String = {
      val base = s"((((media_id % $seedMod) * 31 + ${cx * 7 + cy * 13}) * 37) % 256)"
      if (maskMod <= 0) base
      else s"(CASE WHEN (media_id + ${cy * 8 + cx}) % $maskMod = 0 THEN 255 - $base ELSE $base END)"
    }
    val cells = for (cy <- 0 until 8; cx <- 0 until 8) yield luma(cx, cy)
    val sum = cells.mkString("(", " + ", ")")
    def half(lo: Int, hi: Int): String =
      (lo until hi).map { i =>
        s"(CASE WHEN ${cells(i)} * 64 > __s THEN ${1L << (i - lo)} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""$g AS (SELECT doc_id AS media_id, $sum AS __s FROM documents$where),
       |$h AS (SELECT media_id,
       |  CAST(${half(32, 64)} AS BIGINT) AS ahash_hi,
       |  CAST(${half(0, 32)} AS BIGINT) AS ahash_lo
       |  FROM $g)""".stripMargin
  }

  /** Formula envelope-hash of the AM-WAV fixtures as a DuckDB CTE — the
    * audio twin of [[ahashCteNamed]]: per media_id the 64 window
    * amplitudes ([[graft.multimodal.MediaCodec.windowAmp]], seed =
    * media_id % 101), bit w set iff amp_w·64 strictly exceeds the amp
    * total (the engine's winSum·n > totalSum·winFrames reduced for the
    * fixture's equal 256-sample windows whose mean |sample| is exactly
    * the amplitude).
    */
  private def ehashCte(g: String, h: String): String = {
    def amp(w: Int): String =
      s"((((media_id % 101) * 29 + ${w * 11}) * 53) % 4096 + 256)"
    val wins = (0 until 64).map(amp)
    val sum = wins.mkString("(", " + ", ")")
    def half(lo: Int, hi: Int): String =
      (lo until hi).map { w =>
        s"(CASE WHEN ${wins(w)} * 64 > __s THEN ${1L << (w - lo)} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""$g AS (SELECT doc_id AS media_id, $sum AS __s FROM documents),
       |$h AS (SELECT media_id,
       |  CAST(${half(32, 64)} AS BIGINT) AS ehash_hi,
       |  CAST(${half(0, 32)} AS BIGINT) AS ehash_lo
       |  FROM $g)""".stripMargin
  }

  /** m9's oracle, shared with m12 (same rows by design). */
  private val contentNewSql: String =
    """SELECT d.doc_id AS media_id FROM documents d
        |WHERE d.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 10 <> 0 AND c.doc_id % 397 = d.doc_id % 397)""".stripMargin

  val family: Family = Family("m", "multimodal (real codecs + perception dedup)",
    impl = "graft.multimodal.Multimodal, MediaCodec",
    specs = "MultimodalSpec", queries = Seq(
    // Metadata-only resize plan over the synthetic media parquet (derived
    // deterministically from documents, so DuckDB recomputes it in SQL):
    // the scan's ReadSchema excludes `bytes` — filters/projections on the
    // typed meta struct never touch a blob (PlanQualitySpec gate).
    Query("m1_resize_plan", (s, d) =>
      graft.multimodal.Multimodal.resizePlan(
        graft.multimodal.Multimodal.syntheticMediaTable(s, d), maxSide = 512),
      Sql("""WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
        |    CAST(200 + doc_id % 1600 AS INT) AS width,
        |    CAST(100 + doc_id % 900 AS INT) AS height
        |  FROM documents)
        |SELECT media_id, width, height,
        |  CAST(round(width * least(512.0/greatest(width, height), 1.0)) AS INT) AS target_width,
        |  CAST(round(height * least(512.0/greatest(width, height), 1.0)) AS INT) AS target_height
        |FROM m WHERE kind = 'image'""".stripMargin)),

    // Frame-sampling plan for the video assets: a generator emitting n
    // evenly-spaced pseudo-frames per row — n rows out per row in, no
    // shuffle, still metadata-only.
    Query("m2_frame_plan", (s, d) =>
      graft.multimodal.Multimodal.sampleFrames(
          graft.multimodal.Multimodal.syntheticMediaTable(s, d), n = 4)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
                col("frame_ms")),
      Sql("""WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
        |    CAST((doc_id % 60 + 1) * 1000 AS BIGINT) AS duration_ms
        |  FROM documents)
        |SELECT media_id, i AS frame_idx,
        |  CAST(floor(duration_ms * i / 4.0) AS BIGINT) AS frame_ms
        |FROM m, range(0, 4) t(i)
        |WHERE kind = 'video'""".stripMargin)),

    // Audio-chunking arithmetic for the audio assets — windows + total
    // samples from metadata alone, still never reading a blob byte.
    Query("m3_audio_windows", (s, d) =>
      graft.multimodal.Multimodal.audioWindows(
        graft.multimodal.Multimodal.syntheticMediaTable(s, d), windowMs = 5000),
      Sql("""WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
        |    CAST(16000 AS INT) AS sample_rate,
        |    CAST((doc_id % 60 + 1) * 1000 AS BIGINT) AS duration_ms
        |  FROM documents)
        |SELECT media_id, sample_rate, duration_ms,
        |  CAST(ceil(duration_ms / 5000.0) AS BIGINT) AS n_windows,
        |  CAST(duration_ms * sample_rate / 1000 AS BIGINT) AS n_samples
        |FROM m WHERE kind = 'audio'""".stripMargin)),

    // Content-addressed blob dedup — the one multimodal operator that
    // MUST read the bytes (it hashes them); the shuffle still carries
    // only (hash, id, length). Oracled: the synthetic blobs are the
    // document text as binary, so DuckDB recomputes md5 directly.
    Query("m4_blob_dedup", (s, d) =>
      graft.multimodal.Multimodal.blobDedup(
        graft.multimodal.Multimodal.syntheticMediaTable(s, d)),
      // the synthetic media table's bytes are the document text as binary,
      // so md5 over the blob == md5 over the text's UTF-8 bytes in any
      // engine; strlen(varchar) is DuckDB's byte length (= Spark
      // length(binary))
      Sql("""SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies, CAST(min(strlen(text)) AS BIGINT) AS n_bytes
        |FROM documents
        |GROUP BY md5(text)""".stripMargin)),

    // REAL image decode (round-14: javax.imageio probe came back
    // positive): ImageIO-encoded two-tone PNGs, decoded per blob in a
    // mapPartitions batch; published dims + exact per-channel pixel sums
    // come OUT OF THE DECODED RASTER while the oracle re-derives them
    // from the generative formulas (MediaCodec) — a hash match proves
    // the codec round trip, not just plumbing.
    // plan: the decode scan stays map-side; blobs never cross an exchange
    Query("m5_image_decode", (s, d) =>
      graft.multimodal.Multimodal.imageDecodeStats(
        graft.multimodal.Multimodal.syntheticImageTable(s, d)),
      // REAL-codec oracles (m5/m6/m7): the Spark side publishes values read
      // out of decoded bytes (ImageIO / javax.sound round trips); these
      // replay the deterministic generative formulas (MediaCodec: two-tone
      // dims/colors, square-wave amp/length) in plain arithmetic. A hash
      // match is therefore evidence the CODEC path works — the only way the
      // engines agree is if encode→decode faithfully round-tripped every
      // pixel and PCM frame.
      Sql("""WITH g AS (SELECT doc_id AS media_id,
        |  16 + doc_id % 48 AS w, 16 + (doc_id // 3) % 32 AS h,
        |  (doc_id * 37) % 256 AS ra, (doc_id * 59 + 11) % 256 AS ga, (doc_id * 83 + 7) % 256 AS ba,
        |  (doc_id * 101 + 3) % 256 AS rb, (doc_id * 131 + 29) % 256 AS gb, (doc_id * 151 + 101) % 256 AS bb
        |  FROM documents)
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(h * ((w // 2) * ra + (w - w // 2) * rb) AS BIGINT) AS sum_r,
        |  CAST(h * ((w // 2) * ga + (w - w // 2) * gb) AS BIGINT) AS sum_g,
        |  CAST(h * ((w // 2) * ba + (w - w // 2) * bb) AS BIGINT) AS sum_b
        |FROM g""".stripMargin)),

    // REAL resize round trip: decode → nearest-neighbor resample
    // (maxSide 24, aspect preserved, never upscaled) → re-encode →
    // decode again; published dims + corner pixels of the re-decoded
    // image, oracle-replayed from the formulas (nearest-neighbor keeps
    // the two-tone corners exactly — MediaCodec.resizePng).
    Query("m6_image_resize", (s, d) =>
      graft.multimodal.Multimodal.imageResizeStats(
        graft.multimodal.Multimodal.syntheticImageTable(s, d), maxSide = 24),
      // resize dims mirror MediaCodec.resizeDims exactly: scale = 24.0 /
      // max(w,h) in IEEE double, floor(dim * scale), 1px floor, no
      // upscale. Corners: output (0,0) samples source column 0 (color A);
      // output (nw-1,0) samples source column (nw-1)*w//nw >= w//2 (color
      // B) — the nearest-neighbor mapping in MediaCodec.resizePng.
      Sql("""WITH g AS (SELECT doc_id AS media_id,
        |  16 + doc_id % 48 AS w, 16 + (doc_id // 3) % 32 AS h,
        |  (doc_id * 37) % 256 AS ra, (doc_id * 59 + 11) % 256 AS ga, (doc_id * 83 + 7) % 256 AS ba,
        |  (doc_id * 101 + 3) % 256 AS rb, (doc_id * 131 + 29) % 256 AS gb, (doc_id * 151 + 101) % 256 AS bb
        |  FROM documents),
        |r AS (SELECT *, CAST(CASE WHEN w <= 24 AND h <= 24 THEN w
        |        ELSE greatest(1, CAST(floor(w * (24.0 / greatest(w, h))) AS INT)) END AS INT) AS nw,
        |      CAST(CASE WHEN w <= 24 AND h <= 24 THEN h
        |        ELSE greatest(1, CAST(floor(h * (24.0 / greatest(w, h))) AS INT)) END AS INT) AS nh
        |      FROM g)
        |SELECT media_id, nw AS out_width, nh AS out_height,
        |  CAST(ra * 65536 + ga * 256 + ba AS INT) AS left_rgb,
        |  CAST(rb * 65536 + gb * 256 + bb AS INT) AS right_rgb
        |FROM r""".stripMargin)),

    // DECODED-content image dedup: the dup-image table carries each
    // content seed in TWO different PNG byte streams (the plain encode
    // and a tEXt-chunk-spliced variant — pixel-identical, byte-distinct;
    // see MediaCodec.encodePngVariant on why not a re-encode), so
    // byte-level dedup sees ~2 contents per seed while grouping on the
    // decoded pixel digest must see exactly one. The oracle replays the
    // seed arithmetic; a hash match proves the codec normalized the
    // byte-stream variance away.
    // plan: the decode scan stays map-side; blobs never cross an exchange
    Query("m8_image_content_dedup", (s, d) =>
      graft.multimodal.Multimodal.imageContentDedup(
        graft.multimodal.Multimodal.syntheticDupImageTable(s, d)),
      // decoded-content dedup: groups are exactly the content seeds
      // (doc_id % 397) — distinct seeds always differ in at least width
      // (see Multimodal.syntheticDupImageTable), so if the engine's
      // pixel-digest grouping matches this replay, the codec collapsed
      // the two byte-stream variants of every seed into one content
      Sql("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |  CAST(16 + (doc_id % 397) % 48 AS INT) AS width
        |FROM documents
        |GROUP BY doc_id % 397""".stripMargin)),

    // REAL audio decode (javax.sound WAV): square-wave PCM clips whose
    // peak / mean-|sample| are formula constants; Spark reads them from
    // the decoded frames, the oracle recomputes them arithmetically.
    Query("m7_audio_decode", (s, d) =>
      graft.multimodal.Multimodal.wavDecodeStats(
        graft.multimodal.Multimodal.syntheticWavTable(s, d)),
      Sql("""SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(800 + doc_id % 1600 AS BIGINT) AS n_samples,
        |  CAST(1000 + (doc_id * 7) % 9000 AS INT) AS peak,
        |  CAST((800 + doc_id % 1600) * (1000 + (doc_id * 7) % 9000) AS BIGINT) AS sum_abs
        |FROM documents""".stripMargin)),

    // Second REAL image codec (JPEG, lossy): dims round-trip exactly and
    // are the oracle surface — read through the codec's HEADER probe
    // (no raster scan for a dims-only projection); pixel fidelity is
    // spec-gated with a tolerance in MultimodalSpec (DCT + chroma
    // subsampling make exact channel sums engine-honest but not
    // formula-replicable).
    Query("m11_jpeg_decode", (s, d) =>
      graft.multimodal.Multimodal.imageDecodeDims(
        graft.multimodal.Multimodal.syntheticJpegTable(s, d)),
      // JPEG dims survive the lossy round trip exactly — same generative
      // dims as m5
      Sql("""SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 48 AS INT) AS width,
        |  CAST(16 + (doc_id // 3) % 32 AS INT) AS height
        |FROM documents""".stripMargin)),

    // REAL multi-frame motion decode (animated GIF — the JDK's genuine
    // moving-picture codec; ffmpeg-class video remains the one honest
    // stub): every frame of every asset decoded frame-by-frame, channel
    // means read from the rasters, replayed arithmetically by the oracle.
    // plan: the GIF decode scan stays map-side
    Query("m15_gif_frames", (s, d) =>
      graft.multimodal.Multimodal.gifFrameStats(
        graft.multimodal.Multimodal.syntheticGifTable(s, d)),
      // per-frame channel means replayed from the generative formulas
      // (solid frames: mean == color exactly); frame counts 2..5
      Sql("""WITH g AS (SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents)
        |SELECT media_id, CAST(i - 1 AS INT) AS frame_idx,
        |  CAST((media_id * 43 + (i - 1) * 17 + 5) % 256 AS INT) AS mean_r,
        |  CAST((media_id * 67 + (i - 1) * 29 + 11) % 256 AS INT) AS mean_g,
        |  CAST((media_id * 89 + (i - 1) * 41 + 23) % 256 AS INT) AS mean_b
        |FROM g, range(1, 6) t(i) WHERE i <= nf""".stripMargin)),

    // the m2 frame-sampling PLAN made actual: n evenly-spaced REALLY
    // DECODED frames per asset (frame floor(F*i/n)), stats from the
    // decoded rasters.
    // plan: the GIF decode scan stays map-side
    Query("m16_gif_frame_sample", (s, d) =>
      graft.multimodal.Multimodal.sampleGifFrames(
        graft.multimodal.Multimodal.syntheticGifTable(s, d), n = 4),
      // sampled frame index floor(nf*i/4) for i in 0..3, colors from the
      // same formulas
      Sql("""WITH g AS (SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents),
        |s AS (SELECT media_id, nf, CAST(i - 1 AS INT) AS sample_idx,
        |        CAST((nf * (i - 1)) // 4 AS INT) AS frame_idx
        |      FROM g, range(1, 5) t(i))
        |SELECT media_id, sample_idx, frame_idx,
        |  CAST((media_id * 43 + frame_idx * 17 + 5) % 256 AS INT) AS mean_r,
        |  CAST((media_id * 67 + frame_idx * 29 + 11) % 256 AS INT) AS mean_g,
        |  CAST((media_id * 89 + frame_idx * 41 + 23) % 256 AS INT) AS mean_b
        |FROM s""".stripMargin)),

    // the same sampler at n = 8 — WIDER than every asset's frame count
    // (2..5), so every asset exercises the duplicate-index branch (each
    // frame decoded once, emitted for every sample slot that maps to it)
    // under the oracle rather than only under the spec.
    // plan: the same map-side decode scan as m16 on the duplicate-index branch
    Query("m16b_gif_frame_sample_wide", (s, d) =>
      graft.multimodal.Multimodal.sampleGifFrames(
        graft.multimodal.Multimodal.syntheticGifTable(s, d), n = 8),
      // n = 8 > every nf (2..5): sample slot i maps to frame floor(nf*i/8),
      // so duplicate frame indices appear for every asset — the oracle
      // replays the duplicate-emitting branch exactly
      Sql("""WITH g AS (SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents),
        |s AS (SELECT media_id, nf, CAST(i - 1 AS INT) AS sample_idx,
        |        CAST((nf * (i - 1)) // 8 AS INT) AS frame_idx
        |      FROM g, range(1, 9) t(i))
        |SELECT media_id, sample_idx, frame_idx,
        |  CAST((media_id * 43 + frame_idx * 17 + 5) % 256 AS INT) AS mean_r,
        |  CAST((media_id * 67 + frame_idx * 29 + 11) % 256 AS INT) AS mean_g,
        |  CAST((media_id * 89 + frame_idx * 41 + 23) % 256 AS INT) AS mean_b
        |FROM s""".stripMargin)),

    // PERCEPTUAL hash from the real decode (top rung of the media dedup
    // ladder: bytes m4 → decoded content m8 → perception m13/m14): the
    // grid fixtures make every average-hash BIT formula-replicable, so
    // the oracle recomputes the hash halves arithmetically while Spark
    // reads them out of decoded pixels.
    // plan: the hash scan stays map-side; blobs never cross an exchange
    Query("m13_image_ahash", (s, d) =>
      graft.multimodal.Multimodal.imageAverageHashes(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d)),
      // the average-hash bits recomputed arithmetically (ahashCte) — a
      // match proves the decode→grid-mean→threshold pipeline end-to-end
      Sql(s"WITH $ahashCte SELECT media_id, ahash_hi, ahash_lo FROM h")),

    // Perceptual near-dup pairs: chunk-blocked (SimHash recipe on
    // pixels), exact hamming <= 3 verify. The oracle brute-forces all
    // pairs from the formula hashes — the engine must find exactly the
    // same set through its bucketed plan (pigeonhole guarantees no
    // hamming<=3 pair can escape the blocking).
    // plan: the pair search joins the distinct-hash universe, never copies
    Query("m14_image_perceptual_neardups", (s, d) =>
      graft.multimodal.Multimodal.perceptualNearDups(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d), maxHamming = 3),
      // brute-force hamming over the formula hashes — the engine's
      // chunk-blocked plan must find the identical pair set
      Sql(s"""WITH $ahashCte
         |SELECT a.media_id AS id1, b.media_id AS id2,
         |  CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |       bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |      bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 3""".stripMargin)),

    // the perception GRAPH itself (r15): verified hash pairs over the
    // distinct-perception universe, never expanded to members — the
    // operator a clusterer consumes. The oracle brute-forces hamming
    // over the distinct formula hashes with the same signed 64-bit
    // packing the engine publishes.
    // plan: the pair search joins the distinct-hash universe, never copies
    Query("m17_perceptual_hash_pairs", (s, d) =>
      graft.multimodal.Multimodal.perceptualHashPairs(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d), maxHamming = 3),
      // distinct formula hashes, signed-packed ((hi<<32)|lo as the engine
      // publishes: hi ≥ 2^31 wraps negative), brute-force hamming <= 3 —
      // the chunk-blocked distinct-universe search must find the exact set
      Sql(s"""WITH $ahashCte,
         |u AS (SELECT DISTINCT
         |        (ahash_hi - CASE WHEN ahash_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
         |          * 4294967296 + ahash_lo AS hp,
         |        ahash_hi AS hi, ahash_lo AS lo
         |      FROM h)
         |SELECT a.hp AS hash1, b.hp AS hash2,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         |FROM u a JOIN u b ON a.hp < b.hp
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin)),

    // perception clusters (r15): connected components over the m17 pair
    // graph through the shared d12 union-find — the oracle recomputes
    // the closure with a recursive CTE over the brute-force pair set.
    // plan: the closure runs over perceptions (distinct hashes), never copies
    Query("m18_perceptual_clusters", (s, d) =>
      graft.multimodal.Multimodal.perceptualDupClusters(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d), maxHamming = 3),
      // connected components over the brute-force pair set, replayed as a
      // recursive reachability CTE (the d12 closure pattern on formula
      // hashes instead of a candidate dump): label = min reachable hash
      Sql(s"""WITH RECURSIVE $ahashCte,
         |u AS (SELECT DISTINCT
         |        (ahash_hi - CASE WHEN ahash_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
         |          * 4294967296 + ahash_lo AS hp,
         |        ahash_hi AS hi, ahash_lo AS lo
         |      FROM h),
         |p AS (SELECT a.hp AS h1, b.hp AS h2 FROM u a JOIN u b ON a.hp < b.hp
         |      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
         |e AS (SELECT h1 AS src, h2 AS dst FROM p
         |      UNION ALL SELECT h2, h1 FROM p),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)
         |SELECT id, min(r) AS label FROM reach GROUP BY id""".stripMargin)),

    // AUDIO perception rung (r15): envelope hash from the real decoded
    // PCM — averageHash's recipe on sound; on the AM fixtures every bit
    // is formula-replicable (window mean |sample| IS the amplitude).
    // plan: the envelope-hash scan stays map-side
    Query("m20_audio_envelope_hash", (s, d) =>
      graft.multimodal.Multimodal.audioEnvelopeHashes(
        graft.multimodal.Multimodal.syntheticAmWavTable(s, d)),
      // the envelope bits recomputed arithmetically — a match proves the
      // WAV decode → window-sum → threshold pipeline end-to-end, the m13
      // proof for sound
      Sql(s"WITH ${ehashCte("g", "h")} SELECT media_id, ehash_hi, ehash_lo FROM h")),

    // and the audio perception GRAPH: chunk-blocked hamming pairs over
    // the distinct envelope-hash universe — m17's shape with the audio
    // codec in front.
    // plan: the pair search joins the distinct-hash universe
    Query("m21_audio_perceptual_pairs", (s, d) =>
      graft.multimodal.Multimodal.audioPerceptualHashPairs(
        graft.multimodal.Multimodal.syntheticAmWavTable(s, d), maxHamming = 3),
      // distinct envelope hashes, signed-packed, brute-force hamming <= 3
      // (the m17 oracle with the audio formula)
      Sql(s"""WITH ${ehashCte("g", "h")},
         |u AS (SELECT DISTINCT
         |        (ehash_hi - CASE WHEN ehash_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
         |          * 4294967296 + ehash_lo AS hp,
         |        ehash_hi AS hi, ehash_lo AS lo
         |      FROM h)
         |SELECT a.hp AS hash1, b.hp AS hash2,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         |FROM u a JOIN u b ON a.hp < b.hp
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin)),

    // incremental PERCEPTUAL-new (r15): a MASKED batch (cell-inversion
    // fixture — new perceptions at small hamming from the corpus family;
    // a seed-only batch proved useless here, every seed's hash is
    // already IN the corpus universe because uniform luma shifts
    // preserve the above-mean pattern) against the standing unmasked
    // corpus — batch assets survive iff no corpus perception sits
    // within hamming 3 (at sf0.01: 41 die, 9 survive). Only the batch
    // decodes; the corpus side is the narrow packed-hash frame. The
    // oracle replays both fixtures' formula hashes + the NOT EXISTS.
    // plan: batch decode scan + chunk-blocked anti-join; the corpus side is the narrow hash frame, never a re-decode
    Query("m19_incremental_perceptual_new", (s, d) => {
      val batch = graft.multimodal.Multimodal
        .syntheticMaskedGridImageTable(s, d)
        .filter(pmod(col("media_id"), lit(10)) === 0)
      val corpus = graft.multimodal.Multimodal.syntheticGridImageTable(s, d)
        .filter(pmod(col("media_id"), lit(10)) =!= 0)
      graft.multimodal.Multimodal.incrementalPerceptualNew(
        batch, graft.multimodal.Multimodal.packedImageHashes(corpus))
    },
      // both fixtures' formula hashes; a batch asset is new iff NO corpus
      // perception is within hamming 3 of its own hash
      Sql(s"""WITH ${ahashCteNamed(101, "bg", "bh", " WHERE doc_id % 10 = 0", maskMod = 24)},
         |${ahashCteNamed(101, "cg", "ch", " WHERE doc_id % 10 <> 0")},
         |cu AS (SELECT DISTINCT ahash_hi AS hi, ahash_lo AS lo FROM ch)
         |SELECT bh.media_id FROM bh
         |WHERE NOT EXISTS (SELECT 1 FROM cu
         |  WHERE bit_count(xor(bh.ahash_hi, cu.hi)) +
         |        bit_count(xor(bh.ahash_lo, cu.lo)) <= 3)""".stripMargin)),

    // Incremental CONTENT-new media (the d17 daily-crawl pass with the
    // codec in front): batch assets whose decoded pixels are absent from
    // the standing corpus — re-encoded copies of corpus content die even
    // though their bytes are novel. Only the batch decodes per run; the
    // corpus side is the narrow digest frame. The oracle replays the
    // seed-coverage arithmetic (NOT EXISTS over the generative groups).
    Query("m9_incremental_content_new", (s, d) => {
      val media = graft.multimodal.Multimodal.syntheticDupImageTable(s, d)
      val batch = media.filter(pmod(col("media_id"), lit(10)) === 0)
      val corpus = media.filter(pmod(col("media_id"), lit(10)) =!= 0)
      graft.multimodal.Multimodal.incrementalContentNew(
          batch, graft.multimodal.Multimodal.imagePixelDigests(corpus))
        .select("media_id")
    },
      // content-new = batch seeds with no corpus member: doc_ids share
      // decoded content iff they share doc_id % 397 (the dup-table seed),
      // so the anti-join replays as NOT EXISTS over the seed groups
      Sql(contentNewSql)),

    // m9 through the PERSISTED pixel-digest ledger (the d18 pattern for
    // media): corpus decoded once at ledger build, batch membership is a
    // DPP-pruned probe — no corpus re-decode per run. Same output as m9
    // by construction; same oracle.
    // plan: the digest-ledger probe stays DPP-pruned
    Query("m12_incremental_content_indexed", (s, d) => {
      val media = graft.multimodal.Multimodal.syntheticDupImageTable(s, d)
      val batch = media.filter(pmod(col("media_id"), lit(10)) === 0)
      val ledger = graft.multimodal.Multimodal.ensureDigestLedger(s, d,
        media.filter(pmod(col("media_id"), lit(10)) =!= 0), subset = "png_mod10ne0")
      graft.multimodal.Multimodal.incrementalContentNewIndexed(ledger, batch)
        .select("media_id")
    },
      // identical output to m9 (ledger-probe path) — same replay
      Sql(contentNewSql)),

    // Windowed features from REAL decoded PCM (the fbank batching shape
    // with actual frames): fixed 1000-sample windows, per-window frame
    // count and exact mean |sample| — on the square-wave fixtures every
    // window's mean is the formula amplitude, so the whole exploded
    // frame is oracle-replicable.
    Query("m10_audio_features", (s, d) =>
      graft.multimodal.Multimodal.audioWindowFeatures(
        graft.multimodal.Multimodal.syntheticWavTable(s, d), windowSamples = 1000),
      // every window of a square-wave clip (full or partial tail) has mean
      // |sample| exactly amp; window count and tail size are integer
      // arithmetic over the formula clip length
      Sql("""WITH g AS (SELECT doc_id AS media_id, 800 + doc_id % 1600 AS n,
        |    1000 + (doc_id * 7) % 9000 AS amp FROM documents),
        |w AS (SELECT media_id, n, amp, CAST(ceil(n / 1000.0) AS INT) AS nw FROM g)
        |SELECT media_id, CAST(i - 1 AS INT) AS window_idx,
        |  CAST(CASE WHEN i * 1000 <= n THEN 1000 ELSE n - (i - 1) * 1000 END AS BIGINT) AS n_in_window,
        |  CAST(amp AS BIGINT) AS mean_abs
        |FROM w, range(1, 4) t(i) WHERE i <= nw""".stripMargin))))
}
