package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth probe: measures how the registered event/document queries
  * behave when the sf0.1 testdata is replicated `factor`× (default 10) —
  * the closest this sandbox gets to sf1 evidence, since /root/testdata
  * tops out at sf0.1 and is read-only.
  *
  * Upscale semantics (deliberate, documented in docs/SCALE_PROBE.md):
  *  - events: replicas get offset event_ids but KEEP user_id and ts, so
  *    per-user event density grows factor× — the stress a range window /
  *    sessionization actually feels as a corpus grows.
  *  - documents: replicas get offset doc_ids but IDENTICAL text, so the
  *    duplicate rate grows factor× — the dedup operators' real production
  *    shape (a larger crawl has more duplicates, not more distinct docs).
  *
  * Each query is timed best-of-two in one JVM, scaled dir vs source dir,
  * same local[cpus] session. Output: one JSON line +
  * target/scale_probe_<set>_x<factor>.json.
  */
object ScaleProbe {

  /** event/document probe set (SPARK_GRAFT_PROBE=events, the default). */
  val probeQueries: Seq[String] = Seq(
    "a2_group_agg", "a4_daily_agg", "w8_sessionize", "w9_range_rolling",
    "c1_two_pass_clean", "d2_exact_dedup", "d6_curation_funnel",
    "d7_hash_split", "d9_source_cap", "t3_quality_score",
    "d11_epoch_shuffle", "t16_chunk_overlap", "t17_unigram_logprob",
    "t18_bloom_decontaminate", "o4_top_docs_per_lang", "t9_tfidf",
    "t19_crossdoc_shingles", "t20_dsir_weights", "d15_incremental_neardups",
    "d17_incremental_exact", "d18_incremental_exact_indexed",
    "w10_interval_join", "t22_heavy_ngrams", "t23_bigram_logprob",
    "t24_dup_spans", "t25_sequence_pack", "w13_rolling_zscore",
    "w12_active_users", "w14_funnel", "w15_retention", "w16_gap_fill",
    // r17: SCD2 — one (key) exchange, two stacked windows; expected ~linear
    "w17_scd2_intervals",
    "a20_profile", "a21_incremental_agg",
    // m4/m5/m7 read synthetic media tables derived from documents, so
    // the documents upscale exercises the blob hash-shuffle and the real
    // codec decode scans at 100× asset count (fixture build is cached;
    // min-of-two keeps the build out of the reading)
    "m4_blob_dedup", "m5_image_decode", "m7_audio_decode", "m8_image_content_dedup",
    "m9_incremental_content_new", "m12_incremental_content_indexed",
    // m13 is the per-image hash scan (map-side); m14's PAIR OUTPUT is
    // quadratic in the duplicate rate by nature (the e1/e3 rationale) —
    // probed never, like every corpus-wide near-dup pair emission
    "m13_image_ahash", "m15_gif_frames",
    "d19_simhash_verified_pairs", "d13_lsh_verified_pairs",
    // round-15 additions (the r14 verdict's still-unprobed newcomers):
    // t21 = weighted resample over the t20 weights (global top-k);
    // m6/m16 = real decode+resize and the frame-SAMPLE path (dup-index
    // branch); d12/d14 = the union-find closure path — at the scaled
    // duplicate rate the edge count crosses the 4M driver budget, so
    // this exercises the distributed pointer-jumping branch too
    "t21_dsir_resample", "m6_image_resize", "m16_gif_frame_sample",
    "d12_dup_clusters", "d14_fuzzy_survivors",
    // m19 = the perception-rung incremental probe (masked batch vs the
    // standing unmasked hash frame) — the m9/m12 pattern one rung up
    "m19_incremental_perceptual_new",
    // the rest of the r15 media newcomers: m16b = the wide-sample GIF
    // path (duplicate indices); m17/m18 = perception pairs/clusters over
    // the plain grid fixture (universe pinned at 64 hashes, so the join
    // is scale-free and the rows measure the decode scan); m20/m21 =
    // the audio envelope rung (m20 is a 16 GB-fixture decode scan at
    // ×100; m21's universe is 18 hashes)
    "m16b_gif_frame_sample_wide", "m17_perceptual_hash_pairs",
    "m18_perceptual_clusters", "m20_audio_envelope_hash",
    "m21_audio_perceptual_pairs",
    // r17 session-2: the g family (page universe is pinned at 50, so the
    // edge aggregate collapses to ≤2500 rows and everything past the
    // lag-window edge derivation is scale-free — expected ~linear in the
    // event scan, like w8); ml (8 GD epochs over the cached feature
    // frame — expected ~linear in the featurize+cache pass); dq3 (one
    // conditional-agg scan + the doc_id uniqueness expand — ~linear)
    "g1_page_transitions", "g2_pagerank", "g3_degree_census",
    "g4_triangle_census", "g5_page_components", "g6_harmonic_centrality",
    "g7_harmonic_hyperball", "g8_personalized_pagerank",
    "ml1_quality_weights", "ml2_quality_scores",
    "dq3_documents_checks",
    // r18: the cross-run amortization rungs — the g family and ml1/ml2
    // now ride persisted artifacts (EdgeIndex / WeightsIndex; rep 1
    // pays the scaled build, min-of-two keeps the warm path — the z1
    // convention); ml3 must scan only its batch slice, w18's merge
    // windows only open∪batch, dq4 is one grouped scan over ×100 the
    // rows of the same 30 periods
    "ml3_incremental_scores", "w18_scd2_incremental", "dq4_metric_drift",
    // g9's window runs over seed∪batch (the late half of the upscaled
    // log) — expected ~linear in the batch scan, like w18
    "g9_edges_incremental",
    // g10's rounds are all page-pair-domain work past the EdgeIndex
    // scan — expected scale-free like g2/g8; dq6 is one map-side
    // routing scan — expected ~linear
    "g10_label_propagation", "dq6_quarantine",
    // t26's model is fixed-width (10k buckets) — the data-sized terms
    // are the two bucket aggregations and the scoring scan, ~linear
    "t26_dsir_hashed",
    // r19: the warm-start resume paths — snapshot + resume together
    // cost the same per-iteration dataflow as one-shot (the seam is
    // one extra rank/label-sized join at init), expected scale-free
    // like g2/g10 past the EdgeIndex scan
    "g11_pagerank_resume", "g12_lpa_resume",
    // w20 folds one batch over the one-shot state prefix — expected to
    // track w8's growth (the prefix dominates the registered shape);
    // g13 folds the odd half over the even half's labeling — the
    // closure is pair-domain like g5
    "w20_sessions_incremental", "g13_components_incremental",
    // r20: the epoch-walk fold — rep 1 seeds the StateStore artifacts at
    // the scaled dir, the warm rep measures two batch folds + three
    // epoch snapshot writes (the registered shape re-advances its fixed
    // epoch keys each run to exercise idempotency)
    "w21_sessions_epochs")

  /** TPC-H probe set (SPARK_GRAFT_PROBE=tpch): the fact-heavy headline
    * shapes — pure fact agg (q1), fact⋈fact⋈dim top-k (q3), 5-way profit
    * rollup (q9), the single-scan window rewrite (q21).
    */
  val tpchProbeQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
    "q21_waiting_suppliers", "j11_bloom_prune_semi",
    // r17: the registered z-order query (first rep builds the scaled
    // mirror, min-of-two keeps the warm scan; build cost is its own
    // zorder_mirror_write_once row)
    "z1_zorder_prune",
    // r17 session-2: dq suites over the scaled facts — dq1 is one
    // conditional-agg scan of orders (+ the o_orderkey uniqueness
    // expand); dq2's fact-side referential join (lineitem→orders) is the
    // row that grows on BOTH sides, the shape the scaladoc says to bloom-
    // prefilter at fact-to-fact scale
    "dq1_orders_checks", "dq2_referential_checks",
    // r18: the bloom-prefiltered fact-to-fact referential — both sides
    // scale; the row measures the screen + the shrunken confirm join
    "dq5_referential_bloom")

  /** Embedding probe set (SPARK_GRAFT_PROBE=emb): exact scan (s6), brute
    * force (s1, expected ~linear in corpus), and the three bucketed ANN
    * paths. e1 is excluded: an all-corpus near-dup self-join is
    * quadratic-per-bucket by design and not a per-query search shape.
    */
  val embProbeQueries: Seq[String] = Seq(
    "s6_int8_quantize", "s1_brute_topk", "s2_ann_topk", "s4_ivf_topk",
    "s7_ann_int8", "s8_ivf_int8", "s9_mmr_topk", "e3_semantic_survivors",
    // r16: the PQ family — s10 is a full (compressed) corpus scan, so
    // ~linear like s1 but over m-byte codes; s11 composes cell pruning
    // with the code scan (the expected-sublinear row)
    "s10_pq_topk", "s11_ivfpq_topk",
    // r19: incremental IVF/SRP — rep 1 pays the base build + the batch
    // assignment, the warm rep is the s4/s2 probe path over corpus +
    // generation scans (expected ~s4/~s2 plus the batch-sized append)
    "s13_ivf_append_topk", "s14_srp_append_topk",
    // r20: the compression-path append rungs — same shape as s13/s14
    // one level down the scan-cost ladder (codes are m bytes/vector)
    "s15_pq_append_topk", "s16_ivfpq_append_topk")

  private type Row = (String, Double, Double) // name, base s, scaled s

  // best of two runs: the first pays one-time codegen compilation (and
  // artifact builds), which at probe sizes can exceed the query itself
  // and would masquerade as super-linear growth; a throw fails the probe
  private def best(f: => Any): Double = Harness.bestOf(2)(f).get
  private def once(f: => Any): Double = Harness.bestOf(1)(f).get // a one-time build

  /** `df` replicated `factor`×: replica r (column `id`, visible to the
    * `perReplica` rewrites) offsets `key` by r · `stride`.
    */
  private def replicate(spark: SparkSession, df: DataFrame, factor: Int, key: String,
                        stride: Long, perReplica: (String, Column)*): DataFrame =
    perReplica.foldLeft(spark.range(factor).crossJoin(df)) { case (d, (c, e)) => d.withColumn(c, e) }
      .withColumn(key, col(key) + col("id") * stride)
      .drop("id")
      .repartition(32)

  /** One past `key`'s max: each replica is a disjoint block of keys. */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(key)).collect()(0).getLong(0) + 1

  /** Writes `out/<table>.parquet` unless its `_SUCCESS` marker says an
    * earlier run finished it (an interrupted table is rewritten).
    */
  private def writeOnce(spark: SparkSession, out: String, table: String)(df: => DataFrame): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$out/$table.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
      df.write.mode("overwrite").parquet(path.toString)
  }

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    writeOnce(spark, out, "events") {
      // events: ts stays a raw nanos long (Tables.events handles either)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$src/events.parquet")
      replicate(spark, ev, factor, "event_id", stride(ev, "event_id"))
    }
    writeOnce(spark, out, "documents") {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      replicate(spark, docs, factor, "doc_id", stride(docs, "doc_id"))
    }
  }

  /** TPC-H upscale: replicate orders + lineitem with per-replica orderkey
    * offsets (the orders⋈lineitem join structure is preserved — each
    * replica is a disjoint block of orders), while the dimension tables
    * are copied UNCHANGED. Fact-per-dimension density therefore grows
    * factor× — the shape a 100 TB warehouse actually has (more facts per
    * customer/supplier/part, not proportionally more dimensions), and the
    * one that stresses the fact-side shuffles and the broadcast decisions.
    */
  def generateTpch(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val orders = spark.read.parquet(s"$src/orders.parquet")
    lazy val okStride = stride(orders, "o_orderkey")
    writeOnce(spark, out, "orders")(replicate(spark, orders, factor, "o_orderkey", okStride))
    writeOnce(spark, out, "lineitem")(replicate(spark,
      spark.read.parquet(s"$src/lineitem.parquet"), factor, "l_orderkey", okStride))
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      writeOnce(spark, out, t)(spark.read.parquet(s"$src/$t.parquet"))
    }
  }

  /** Embedding upscale: replicate with offset vec_ids and a DETERMINISTIC
    * per-(replica, dimension) float perturbation (±0.03 max on unit-ish
    * 64-dim vectors). Plain replication would make every vector an exact
    * duplicate of its replicas — all replicas collide in every LSH/IVF
    * bucket and the probe would measure a pathological duplicate corpus,
    * not a larger one. The perturbation keeps the value distribution
    * while giving replicas distinct signatures.
    */
  def generateEmb(spark: SparkSession, src: String, out: String, factor: Int): Unit =
    writeOnce(spark, out, "embeddings") {
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      // the multiplier on the dimension index must be coprime to the
      // modulus or the per-dimension term vanishes (an earlier i*7 mod 7
      // collapsed to a constant-per-replica shift, leaving replicas with
      // id ≡ 1 (mod 7) bit-exact duplicates); 31·id + 5·i mod 7 varies
      // with BOTH replica and dimension
      replicate(spark, emb, factor, "vec_id", stride(emb, "vec_id"),
        "embedding" -> transform(col("embedding"), (x, i) =>
          (x + ((pmod(col("id") * 31 + i * 5, lit(7)) - 3) * lit(0.01f))).cast("float")))
    }

  /** The extra rows (formulation ladders, index builds, gates), one named
    * block each, run after the registered rows of their probe set.
    */
  private final class Extras(spark: SparkSession, src: String, out: String,
                             factor: Int, cpus: Int) {

    // positively gated per probe set: only the events generator writes
    // $out/documents.parquet, so a new set opts in rather than crash
    val bySet: Map[String, Seq[() => Seq[Row]]] = Map(
      "events" -> Seq(lshCandidates _, t9Heap _, imagePerception _, audioPerception _,
        distributedClosure _, funnelCapGate _),
      "tpch" -> Seq(bucketedJoin _, zorder _, bloomReferential _, entityResolution _),
      "emb" -> Seq(recall _, indexBuilds _, srpPlanes _))

    // a one-time build cost at both sizes: drop the artifact, time one build
    private def buildRow(name: String, drop: String => Unit, ensure: String => Any): Row =
      (name, { drop(src); once(ensure(src)) }, { drop(out); once(ensure(out)) })

    // Incremental-dedup CANDIDATE GENERATION at the realistic shape — a
    // SMALL batch (0.1%) against the big scaled corpus — inline
    // (re-bands the whole corpus per run) vs the persisted LshIndex
    // probe, warm. The registered d15/d16 queries use a 10% batch whose
    // verify stage dominates either path; this row isolates what the
    // index actually amortizes. (base = inline, scaled = indexed warm;
    // ratio < 1 IS the speedup.) Build cost reported like
    // fact_bucket_write_once / ivf_index_build_once.
    def lshCandidates(): Seq[Row] = {
      import graft.dedup.{Dedup, LshIndex}
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val corpus = docs.filter(pmod(col("doc_id"), lit(1000)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(1000)) === 0)
      val inline = best(Dedup.incrementalCandidatePairs(batch, corpus, "doc_id", "text").count())
      LshIndex.drop(out, subset = "probe")
      val build = once(LshIndex.ensure(spark, out, corpus, subset = "probe"))
      val indexed = best(Dedup.incrementalCandidatePairsIndexed(
        LshIndex.ensure(spark, out, corpus, subset = "probe"), batch, "doc_id", "text").count())
      Seq(("lsh_candidates_inline_vs_indexed", inline, indexed),
          ("lsh_index_build_once", build, build))
    }

    // t9 formulation ladder at ×100 group cardinality (500 k doc
    // groups): the registered row_number window (the t9_tfidf row
    // above) vs the TopKRows heap at the default ObjectHashAggregate
    // sort fallback (128 in-flight groups/task — the measured r12
    // LOSS) vs the heap with the fallback raised past the per-task
    // group count, the untried third option. (base = heap@default,
    // scaled = heap@raised: the two new contenders in one row; compare
    // both against t9_tfidf's scaled time to pick the winner.)
    def t9Heap(): Seq[Row] = {
      import graft.text.Text
      val docsScaled = spark.read.parquet(s"$out/documents.parquet")
      def heap: Double = best(Text.tfidfTopTermsHeap(docsScaled, "doc_id", "text", k = 3).count())
      val heapDefault = heap
      val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
      val saved = spark.conf.get(fbKey)
      spark.conf.set(fbKey, (1 << 20).toString)
      val heapRaised = try heap finally spark.conf.set(fbKey, saved)
      Seq(("t9_heap_fb128_vs_fb1m", heapDefault, heapRaised))
    }

    /** A perception rung's pair join under perception CLUSTERS: rows
      * `<prefix>_capped` (the capped join's base→scaled growth, the
      * operative default) and `<prefix>_capped_vs_uncapped_base` (the
      * quadratic mass is visible already at the base size), plus the
      * uncapped join where feasible — cluster occupancy grows ~linearly
      * with factor, pairs quadratically: at ×100 the candidate stream is
      * ~10⁸–10⁹ rows and deliberately not run (the same-shaped d19 blocker
      * measured 332× for 100× data before its cap); at ×10 it completes,
      * putting a measured point behind the occupancy arithmetic.
      */
    private def perceptionClusters(prefix: String, table: String => DataFrame,
                                   pairs: (DataFrame, Int) => DataFrame): Seq[Row] = {
      val cap = graft.dedup.Dedup.defaultBucketCap // the operative default, not a copy of it
      def pairsAt(dir: String, cap: Int): Double = best(pairs(table(dir), cap).count())
      // force the fixture build (cachedDerived) before timing either dir
      table(src).count()
      table(out).count()
      val cappedBase = pairsAt(src, cap)
      val cappedScaled = pairsAt(out, cap)
      val uncappedBase = pairsAt(src, 0)
      Seq((s"${prefix}_capped", cappedBase, cappedScaled),
          (s"${prefix}_capped_vs_uncapped_base", cappedBase, uncappedBase)) ++
        (if (factor <= 10)
           Seq((s"${prefix}_capped_vs_uncapped_x$factor", cappedScaled, pairsAt(out, 0)))
         else Seq.empty)
    }

    // m14's hash-pair join (r14 verdict item 3): the perturbed-variant
    // corpus gives every seed content an unbounded stream of
    // distinct-but-near hashes (variant = id/101, ≤3 cells inverted), so
    // per-cluster distinct-hash occupancy — the term the distinct-universe
    // argument does NOT bound — grows with the corpus.
    def imagePerception(): Seq[Row] = {
      import graft.multimodal.Multimodal
      perceptionClusters("m14_hash_pairs",
        Multimodal.syntheticPerturbedGridImageTable(spark, _),
        (t, cap) => Multimodal.perceptualHashPairs(t, maxHamming = 3, bucketCap = cap))
    }

    // m21's pair join (r15 verdict item 3): the audio twin of m14's. The
    // registered m21 row's fixture universe is pinned (18 envelope hashes —
    // scale-free by construction), so THIS is the probe where per-cluster
    // distinct-hash occupancy grows with the corpus on the sound rung too
    // (syntheticPerturbedAmWavTable: variant = doc_id / 101, ≤3 envelope
    // windows mirrored).
    def audioPerception(): Seq[Row] = {
      import graft.multimodal.Multimodal
      perceptionClusters("m21_audio_pairs",
        Multimodal.syntheticPerturbedAmWavTable(spark, _),
        (t, cap) => Multimodal.audioPerceptualHashPairs(t, maxHamming = 3, bucketCap = cap))
    }

    // The DISTRIBUTED pointer-jumping closure branch, which the
    // registered d12 never exercises at probe scale (the capped pair
    // graph stays under the 4M-edge driver budget, so d12's row
    // measures the driver union-find). Force the distributed branch
    // (maxDriverEdges = 0) on the SAME verified pair graph at both
    // sizes — its growth is what a 100 TB corpus with a >4M-edge dup
    // graph would actually pay.
    def distributedClosure(): Seq[Row] = {
      import graft.dedup.Dedup
      def closure(dir: String): Double = {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
          .select(col("id1"), col("id2"))
        best(Dedup.dupClusters(pairs, maxDriverEdges = 0).count())
      }
      Seq(("d12_distributed_closure", closure(src), closure(out)))
    }

    // w14 funnel cap headroom GATE (r14 verdict item 7): on the scaled
    // corpus the default-capped funnel must produce IDENTICAL rows to
    // the uncapped exact fold — the cap is a memory bound, never a
    // result change, and the densest scaled key (~8 500) sits only
    // 1.2× under the 10 000 default, so this is the corpus where a
    // density jump would first silently diverge. The probe FAILS
    // outright on mismatch (cap-selection rule: Lifecycle.defaultEventCap
    // scaladoc) rather than reporting a timing for a wrong answer.
    def funnelCapGate(): Seq[Row] = {
      import graft.analyze.Lifecycle
      val stages = Seq("signup", "view", "click", "purchase")
      val ev = Tables.events(spark, out)
      def funnelRun(cap: Int): (Seq[String], Double) = {
        var rows: Seq[String] = null
        val t = best {
          rows = Lifecycle.funnel(ev, "user_id", "ts", "event_type", stages,
              maxLagSeconds = 21600, maxEventsPerKey = cap)
            .orderBy("stage_idx").collect().toSeq.map(_.toString)
        }
        (rows, t)
      }
      val densest = Lifecycle.maxStageEventsPerKey(ev, "user_id", "event_type", stages)
      val (capped, tCapped) = funnelRun(Lifecycle.defaultEventCap)
      val (exact, tExact) = funnelRun(0)
      require(capped == exact,
        s"w14 cap headroom gate FAILED at ×$factor: capped funnel != uncapped " +
          s"(densest key $densest vs cap ${Lifecycle.defaultEventCap}) — raise " +
          "Lifecycle.defaultEventCap per the cap-selection rule.\n" +
          s"capped:  $capped\nuncapped: $exact")
      println(s"w14 cap headroom gate OK at ×$factor: densest key $densest, " +
        s"cap ${Lifecycle.defaultEventCap}, capped == uncapped (4 stages)")
      Seq(("w14_capped_vs_uncapped_gate", tCapped, tExact))
    }

    // Bucketed-join twin for the probe's superlinear rows: q3/q21 grow
    // ~10x at 100x facts because the fact-fact sort-merge join re-sorts
    // both sides every run (n log n). Bucketing + in-bucket sorting
    // pays that shuffle+sort ONCE at write; these entries measure the
    // same join-aggregate shape from plain parquet vs bucketed tables,
    // plus the one-time bucket-write cost, all at the scaled size.
    // (base = plain, scaled = bucketed, so ratio < 1 IS the speedup.)
    def bucketedJoin(): Seq[Row] = {
      import graft.sink.Sinks
      def joinShape(li: DataFrame, ord: DataFrame): Long =
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderdate"))
          .agg(sum(col("l_extendedprice")).as("rev"))
          .count()
      val liP = spark.read.parquet(s"$out/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val ordP = spark.read.parquet(s"$out/orders.parquet")
        .select("o_orderkey", "o_orderdate")
      val plain = best(joinShape(liP, ordP))
      spark.sql("DROP TABLE IF EXISTS probe_li_bucketed")
      spark.sql("DROP TABLE IF EXISTS probe_ord_bucketed")
      val writeCost = once {
        Sinks.writeBucketed(liP, "probe_li_bucketed", Seq("l_orderkey"),
          nBuckets = cpus, path = Some(s"$out/li_bucketed"),
          sortCols = Seq("l_orderkey"))
        Sinks.writeBucketed(ordP, "probe_ord_bucketed", Seq("o_orderkey"),
          nBuckets = cpus, path = Some(s"$out/ord_bucketed"),
          sortCols = Seq("o_orderkey"))
      }
      val bucketed =
        best(joinShape(spark.table("probe_li_bucketed"), spark.table("probe_ord_bucketed")))
      Seq(("fact_join_bucketed_vs_plain", plain, bucketed),
          ("fact_bucket_write_once", writeCost, writeCost))
    }

    // Z-order layout at scale: the one-time clustering write at both
    // sizes (growth of the layout pass itself), then the registered
    // z1 filter+agg shape from PLAIN parquet vs the z-mirror at the
    // SCALED size (base = plain, scaled = mirrored; ratio < 1 IS the
    // min-max pruning win the layout buys).
    def zorder(): Seq[Row] = {
      import graft.sink.ZOrderMirror
      val zCols = Seq("o_totalprice", "o_custkey")
      def zShape(df: DataFrame): Long =
        df.filter(col("o_totalprice").between(50000, 150000) &&
                  col("o_custkey").between(200, 1000))
          .groupBy("o_orderstatus")
          .agg(sum(col("o_totalprice")).as("rev"))
          .count()
      val write = buildRow("zorder_mirror_write_once",
        ZOrderMirror.drop(_, "orders", zCols), ZOrderMirror.ensure(spark, _, "orders", zCols))
      val plainOrd = spark.read.parquet(s"$out/orders.parquet")
      val zOrd = ZOrderMirror.ensure(spark, out, "orders", zCols) // warm
      Seq(("zorder_scan_vs_plain", best(zShape(plainOrd)), best(zShape(zOrd))), write)
    }

    // The bloom prefilter's honest regimes at the scaled size: the
    // screen only removes DEFINITE orphans, so on a clean child every
    // row passes and the bloom build is pure overhead (the registered
    // dq5 row's posture) — its payoff regime is an orphan-heavy ingest,
    // the case a referential gate exists to catch. Both rows run plain
    // vs bloom on the SAME child at the scaled size (base = plain,
    // scaled = bloom, ratio < 1 IS the prefilter win), with the
    // answers gated equal — the prefilter must be answer-invisible.
    def bloomReferential(): Seq[Row] = {
      import graft.quality.Checks
      val ordS = spark.read.parquet(s"$out/orders.parquet")
      val liS = spark.read.parquet(s"$out/lineitem.parquet")
      // 90% of child keys shifted out of the parent domain: a bulk
      // mis-keyed ingest (offset far past any replica's orderkey range)
      val orphanLi = liS.select(
        when(pmod(col("l_orderkey"), lit(10)) < 9,
          col("l_orderkey") + lit(100000000000L))
          .otherwise(col("l_orderkey")).as("l_orderkey"))
      def metric(d: DataFrame): Seq[String] = d.collect().toSeq.map(_.toString)
      def pair(child: DataFrame, tag: String): Row = {
        var a: Seq[String] = null; var b: Seq[String] = null
        val tp = best { a = metric(Checks.referential(child, "l_orderkey", ordS, "o_orderkey", 1.0)) }
        val tb = best { b = metric(Checks.referentialBloom(child, "l_orderkey", ordS, "o_orderkey", 1.0)) }
        require(a == b,
          s"dq5 $tag gate FAILED at ×$factor: bloom-prefiltered referential " +
            s"diverged from the plain join.\nplain: $a\nbloom: $b")
        (s"dq5_bloom_vs_plain_$tag", tp, tb)
      }
      Seq(pair(orphanLi, "orphan"), pair(liS, "clean"))
    }

    // Entity resolution at a GROWING name universe (the image
    // perception rung's syntheticPerturbedGridImageTable rationale,
    // applied to names): replicate part with a per-replica suffix
    // token, so the distinct-name universe grows ×factor while every
    // name keeps its fuzzy structure (within-replica matches persist;
    // replicas of one name match each other at dist ≤ 2 across the
    // suffix). Token occupancy grows ×factor too — the block cap's
    // binding regime is exactly what this measures.
    def entityResolution(): Seq[Row] = {
      import graft.er.{EntityResolution, NameIndex}
      val partBase = spark.read.parquet(s"$src/part.parquet")
      val pkStride = stride(partBase, "p_partkey")
      writeOnce(spark, out, "part_er")(replicate(spark, partBase, factor, "p_partkey", pkStride,
        "p_name" -> concat(col("p_name"), lit(" v"), col("id"))))
      val partScaled = spark.read.parquet(s"$out/part_er.parquet")
      def er1At(df: DataFrame): Double =
        best(EntityResolution.nameMatchPairs(df, "p_name", maxDist = 2).count())
      def er2At(df: DataFrame): Double =
        best(EntityResolution.entityGroups(df, "p_partkey", "p_name", maxDist = 2).count())
      def er5At(df: DataFrame): Double =
        best(EntityResolution.entitySurvivors(df, "p_partkey", "p_name", maxDist = 2).count())
      def standingOf(df: DataFrame) = df.filter(pmod(col("p_partkey"), lit(10)) =!= 0)
      def batchOf(df: DataFrame) = df.filter(pmod(col("p_partkey"), lit(10)) === 0)
      def er3(batch: DataFrame, standing: DataFrame): Double =
        best(EntityResolution.incrementalEntityMatches(
          batch, standing, "p_partkey", "p_name", maxDist = 2).count())
      // the index is ensured before timing: a warm probe, like d16
      def er4(dir: String, table: String, batch: DataFrame, standing: DataFrame): Double = {
        val idx = NameIndex.ensure(spark, dir, table, "mod10ne0", standing, "p_name")
        best(EntityResolution.incrementalEntityMatchesIndexed(
          batch, idx, "p_partkey", "p_name", maxDist = 2).count())
      }
      // shared across the daily-shape rows: base timings measured ONCE
      // (each is already best-of-two full executions), the fixed day
      // batch = replica 0 of the er fixture (its " v0" names still
      // fuzzy-match the grown universe's single/double-digit replicas
      // at ≤2 edits), standing = the whole ×factor universe
      val er3Base = er3(batchOf(partBase), standingOf(partBase))
      val er4Base = er4(src, "part", batchOf(partBase), standingOf(partBase))
      val fixedBatch = batchOf(partScaled.filter(col("p_partkey") < pkStride))
      // er1's PAIR OUTPUT is quadratic in the duplicate rate by nature
      // (each entity's spelling set is a clique — the e1/m14 law; this
      // fixture makes every base name a factor-clique, measured
      // honestly); er2 consumes connectivity only, so its closure input
      // is the spanning forest and its row must stay in the family
      // band; the "both scale" er3/er4 rows are the adversarial variant
      // (a real daily batch is fixed-size); the "fixed day batch" rows
      // are the TRUE daily shape, and er4's is where the persisted
      // index earns its keep (the standing tokenization scan — the
      // daily shape's linear term — is replaced by the artifact read)
      Seq(("er1_name_matches[pair output ~ dup-rate^2]",
            er1At(partBase), er1At(partScaled)),
          ("er2_entity_groups[universe scales]", er2At(partBase), er2At(partScaled)),
          // er5 = er2's closure + a projection: its row must sit in
          // er2's band (any gap is the keep-rule column, not a new term)
          ("er5_entity_survivors[universe scales]",
            er5At(partBase), er5At(partScaled)),
          ("er3_incremental_matches[batch x standing both scale]",
            er3Base, er3(batchOf(partScaled), standingOf(partScaled))),
          ("er4_incremental_indexed[warm index probe]",
            er4Base, er4(out, "part_er", batchOf(partScaled), standingOf(partScaled))),
          (s"er3_incremental_matches[fixed day batch, standing x$factor]",
            er3Base, er3(fixedBatch, standingOf(partScaled))),
          (s"er4_incremental_indexed[fixed day batch, standing x$factor, warm]",
            er4Base, er4(out, "part_er", fixedBatch, standingOf(partScaled))))
    }

    // Recall at scale, not just latency: a bucketed ANN that gets
    // faster by silently returning worse neighbors is not an index.
    // recall@5 vs exact brute force on the registered 8-query sample,
    // at BOTH sizes (base = sf0.1, scaled = x factor) — the auto-sized
    // IVF paths change their cell count with N, so recall must be
    // re-proven at the size the cells were sized for. (ratio here is
    // scaled/base recall; ~1.0 means the index quality survived the
    // upscale.)
    def recall(): Seq[Row] = {
      import graft.sim.{IvfIndex, Similarity}
      def recallAt(dir: String): Seq[(String, Double)] = {
        val emb = Tables.embeddings(spark, dir)
        val queries = emb.filter(col("vec_id") < 8)
        def sets(df: DataFrame): Map[Long, Set[Long]] =
          df.collect().groupBy(_.getLong(0))
            .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val exact = sets(Similarity.bruteForceTopK(emb, queries, k = 5))
        def recall(approx: Map[Long, Set[Long]]): Double = {
          val per = exact.map { case (q, truth) =>
            approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
          }
          per.sum / per.size
        }
        // registered parameters, verbatim from SparkEntry (s4/s8 through
        // the persisted index, s2/s7 with auto-sized planes — exactly
        // like the registered queries)
        val (assigned, cents) = IvfIndex.ensure(spark, dir, emb)
        Seq(
          "recall_s2_ann_topk" -> recall(sets(Similarity.annTopK(emb, queries, k = 5,
            nTables = 12, maxDim = 64))),
          "recall_s7_ann_int8" -> recall(sets(Similarity.annTopKInt8(emb, queries, k = 5,
            nTables = 12, rerank = 32, maxDim = 64))),
          "recall_s4_ivf_topk" -> recall(sets(
            Similarity.ivfTopKAssigned(assigned, cents, queries, k = 5))),
          "recall_s8_ivf_int8" -> recall(sets(
            Similarity.ivfTopKInt8Assigned(assigned, cents, queries, k = 5, rerank = 16))),
          "recall_s10_pq_topk" -> {
            val (codes, cb) = graft.sim.PqIndex.ensure(spark, dir, emb)
            recall(sets(Similarity.exactRerank(
              Similarity.pqCandidatePairsEncoded(codes, cb, queries, kCand = 64),
              emb, queries, k = 5)))
          },
          "recall_s11_ivfpq_topk" -> {
            val (cbc, cents2, cb2) = graft.sim.IvfPqIndex.ensure(spark, dir, emb)
            recall(sets(Similarity.exactRerank(
              Similarity.ivfPqCandidatePairs(cbc, cents2, cb2, queries, kCand = 64),
              emb, queries, k = 5)))
          })
      }
      val base = recallAt(src).toMap
      recallAt(out).map { case (name, scaled) => (name, base(name), scaled) }
    }

    // One-time index build costs, reported like fact_bucket_write_once
    // (the s4/s8/s2/s7/s10/s11 query rows above measured WARM indexes:
    // their first rep built them, best-of-two keeps the warm run). base =
    // build at the source size, scaled = build at x factor — the ratio is
    // the build's own growth. The SRP build is count + auto-planes + the
    // single corpus pass deriving int8 pair and all nTables bucket
    // assignments + the partitioned write (nTables = 12 matches the
    // registered s2/s7 exactly). The PQ builds split at the seam that
    // matters at 100 TB: pq_index_build_once = bounded-sample train + the
    // ONE full-corpus encode pass + code write (expected ~linear in N with
    // a constant train term); ivfpq_layout_build_once = ONLY the
    // codes⋈cells layout join on warm siblings (the marginal cost of
    // composing two standing indexes into the s11 layout).
    def indexBuilds(): Seq[Row] = {
      import graft.sim.{IvfIndex, IvfPqIndex, PqIndex, SrpIndex}
      def emb(dir: String) = Tables.embeddings(spark, dir)
      Seq(
        buildRow("ivf_index_build_once", IvfIndex.drop(_), d => IvfIndex.ensure(spark, d, emb(d))),
        buildRow("srp_index_build_once", SrpIndex.drop(_, nTables = 12),
          d => SrpIndex.ensure(spark, d, emb(d), nTables = 12)),
        buildRow("pq_index_build_once", PqIndex.drop(_), d => PqIndex.ensure(spark, d, emb(d))),
        // siblings stay warm — measures the join+write only
        buildRow("ivfpq_layout_build_once", IvfPqIndex.drop(_),
          d => IvfPqIndex.ensure(spark, d, emb(d))))
    }

    // Parameter-scaling twin for the SRP path: with FIXED nPlanes the
    // candidate stream grows ∝ N (each bucket holds factor× more
    // vectors), so the registered-parameter entries above scale
    // ~linearly by construction. The index knob that restores
    // per-bucket density is nPlanes += log2(factor); this entry
    // measures s2's shape with exactly that adjustment (base side
    // keeps the registered 4 planes).
    def srpPlanes(): Seq[Row] = {
      val planes = 4 + math.round(math.log(factor.toDouble) / math.log(2.0)).toInt
      // nTables = 12 matches the registered s2 exactly, so the only
      // variable between this row and the s2 row is the plane count
      def annAt(dir: String, p: Int): Double = {
        val emb = Tables.embeddings(spark, dir)
        best(graft.sim.Similarity.annTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
          nPlanes = p, nTables = 12, maxDim = 64).count())
      }
      Seq((s"s2_ann_planes$planes", annAt(src, 4), annAt(out, planes)))
    }
  }

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val probeSet = sys.env.getOrElse("SPARK_GRAFT_PROBE", "events")
    val out = probeSet match {
      case "tpch" => s"target/scale_probe/tpch_x$factor"
      case "emb"  => s"target/scale_probe/emb_x$factor"
      case _      => s"target/scale_probe/x$factor"
    }
    val cpus = Harness.cpus(32)
    // the ×100 media fixtures carry ~200 KB binary blobs per row; at
    // the default 4096-row columnar batch a single vectorized-reader
    // batch is ~800 MB PER TASK and a full events sweep dies with
    // "Cannot reserve additional contiguous bytes". 128 caps a blob
    // batch at ~25 MB and is timing-neutral for the narrow tables
    // (measured: the fact-scan rows moved < run-to-run noise). The
    // general 100 TB lesson is in the Multimodal scaladoc: size
    // columnar batches by ROW BYTES, not row count, on blob tables.
    val spark = Harness.session(cpus, Map("spark.sql.parquet.columnarReaderBatchSize" -> "128"))
    spark.sparkContext.setLogLevel("WARN")
    val probeNames = probeSet match {
      case "tpch" => generateTpch(spark, src, out, factor); tpchProbeQueries
      case "emb"  => generateEmb(spark, src, out, factor); embProbeQueries
      case _      => generate(spark, src, out, factor); probeQueries
    }
    // local-iteration filter (comma-separated registered-query names,
    // like Verify's SPARK_GRAFT_ONLY): probe only the named rows instead
    // of the full set. Skips the extra (non-registered-query) blocks
    // whenever a filter is set — those have their own names and a
    // filtered run is always a targeted refresh, never the published
    // full sweep.
    val only = Harness.names("SPARK_GRAFT_PROBE_ONLY")
    val registry = SparkEntry.queries
    val selected = Harness.select(only,
      scala.collection.immutable.VectorMap.from(probeNames.map(q => q -> registry(q))), "ScaleProbe")
    val rows = selected.toSeq.map { case (q, fn) =>
      (q, best(fn(spark, src).count()), best(fn(spark, out).count()))
    } ++ (if (only.nonEmpty) Seq.empty
          else new Extras(spark, src, out, factor, cpus).bySet.getOrElse(probeSet, Seq.empty).flatMap(_()))
    // Locale-pinned formatting (Bench.f3) — default-locale %f breaks the
    // JSON on comma-decimal locales. A zero base (e.g. a recall row
    // measuring a total miss) must emit ratio null, not the bare
    // Infinity/NaN tokens %f produces — which would corrupt the JSON in
    // exactly the failure case the row exists to report
    val json = rows.map { case (q, b, s) =>
      val ratio = if (b > 0) Bench.f3(s / b) else "null"
      s""""$q":{"base":${Bench.f3(b)},"scaled":${Bench.f3(s)},"ratio":$ratio}"""
    }.mkString(s"""{"probe":"$probeSet","factor":$factor,"queries":{""", ",", "}}")
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"target/scale_probe_${probeSet}_x$factor.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
