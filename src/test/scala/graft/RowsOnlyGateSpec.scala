package graft

import org.apache.spark.sql.functions._
import graft.text.Text
import graft.sim.Similarity

/** One measured property per rows-only (no-SQL-oracle) query on the REAL
  * sf0.01 corpus. The driver can only count these queries' rows (their
  * outputs are xxhash/sketch-keyed by design), so each one carries a
  * semantic gate here; s2/s4/s7/s8 are covered by SimilaritySpec's recall
  * and counted-comparison gates.
  */
class RowsOnlyGateSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  test("a15: HLL approx distinct within 5% of the exact a14 count") {
    // approx_count_distinct defaults to rsd=0.05; the data and sketch are
    // deterministic, so the measured error is exactly reproducible
    val exact = Tables.lineitem(spark, sf)
      .agg(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = SparkEntry.queries("a15_approx_distinct")(spark, sf)
      .collect()(0).getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    info(f"exact=$exact approx=$approx relative_error=$err%.4f")
    assert(err <= 0.05, s"HLL estimate $approx vs exact $exact: error $err > 5%")
  }

  test("t5: fingerprint is a pure function of text and discriminative on the corpus") {
    val docs = Tables.documents(spark, sf)
    val fp = SparkEntry.queries("t5_fingerprint")(spark, sf)
    val j = docs.select("doc_id", "text").join(fp, "doc_id").cache()
    try {
      val nTexts = j.select("text").distinct().count()
      // identical texts ALWAYS collide (determinism, measured corpus-wide)
      assert(j.select("text", "fp").distinct().count() === nTexts)
      // ...and distinct texts rarely collide: the min-shingle key keeps
      // >= 90% of the corpus's distinct-text resolution
      val nFp = j.select("fp").distinct().count()
      info(s"distinct texts=$nTexts distinct fingerprints=$nFp")
      assert(nFp * 10 >= nTexts * 9, s"fingerprint resolution $nFp/$nTexts below 90%")
    } finally j.unpersist()
  }

  test("t7: winnowing selects between 1 and windows fingerprints per doc") {
    // Structural winnowing bound: each of the max(1, n-w+1) windows over
    // the n = len-k+1 k-gram hashes contributes exactly one selection, so
    // after dedup 1 <= n_fingerprints <= windows whenever n >= 1 (and 0
    // exactly when the doc is shorter than k code points).
    val k = 8; val w = 4
    val r = Tables.documents(spark, sf).select(
        length(col("text")).as("len"),
        size(Text.winnowFingerprints(col("text"), k, w)).as("nfp"))
      .withColumn("ngrams", col("len") - k + 1)
      .withColumn("windows", greatest(lit(1), col("ngrams") - w + 1))
    assert(r.filter(col("ngrams") >= 1 &&
      (col("nfp") < 1 || col("nfp") > col("windows"))).count() === 0)
    assert(r.filter(col("ngrams") < 1 && col("nfp") =!= 0).count() === 0)
  }

  test("t7: shared substring of length w+k-1 guarantees a shared fingerprint (randomized)") {
    // The MOSS winnowing guarantee, exercised with 40 random pairs that
    // share only one planted (k+w-1)-codepoint substring each
    val k = 8; val w = 4
    val rnd = new scala.util.Random(13)
    def randStr(n: Int): String = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val pairs = (1 to 40).map { _ =>
      val shared = randStr(k + w - 1)
      (randStr(30) + shared + randStr(30), randStr(25) + shared + randStr(35))
    }
    val bad = pairs.toDF("ta", "tb").select(
        size(array_intersect(
          Text.winnowFingerprints(col("ta"), k, w),
          Text.winnowFingerprints(col("tb"), k, w))).as("common"))
      .filter(col("common") < 1).count()
    assert(bad === 0, s"$bad pairs with a shared (w+k-1)-substring share no fingerprint")
  }

  test("t7: SQL replay of the window-minimum selection matches the native loop") {
    // The t7 oracle dumps kgramHashes and has DuckDB replay the selection
    // with this exact SQL; running the same SQL in Spark against the same
    // hash frame pins the three-way agreement (native loop = SQL replay)
    // on adversarial inputs: tiny alphabet (repeated k-grams → hash ties
    // exercising the rightmost tie-break), docs shorter than k (empty
    // dump → LEFT JOIN zero row), n < w (single clamped window).
    val k = 8; val w = 4
    val rnd = new scala.util.Random(7)
    def randStr(n: Int): String = (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val texts = ((1 to 60).map(_ => randStr(5 + rnd.nextInt(60))) ++
      Seq("", "abc", "aaaaaaaa", "aaaaaaaaaaaaaaaaaaaa", "abababababababababab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    df.createOrReplaceTempView("t7docs")
    df.select(col("doc_id"), posexplode(Text.kgramHashes(col("text"), k)).as(Seq("pos", "h")))
      .createOrReplaceTempView("t7p")
    val replay = spark.sql(
      """WITH n AS (SELECT doc_id, count(*) AS n FROM t7p GROUP BY doc_id),
        |st AS (SELECT p.doc_id, p.pos AS s, n.n FROM t7p p JOIN n USING (doc_id)
        |       WHERE p.pos <= greatest(n.n - 4, 0)),
        |w AS (SELECT st.doc_id, st.s, q.pos, q.h
        |      FROM st JOIN t7p q ON q.doc_id = st.doc_id
        |       AND q.pos >= st.s AND q.pos < least(st.s + 4, st.n)),
        |m AS (SELECT doc_id, s, min(h) AS mh FROM w GROUP BY doc_id, s),
        |sel AS (SELECT w.doc_id, max(w.pos) AS pos
        |        FROM w JOIN m ON m.doc_id = w.doc_id AND m.s = w.s AND w.h = m.mh
        |        GROUP BY w.doc_id, w.s),
        |selh AS (SELECT DISTINCT s.doc_id, p.h
        |         FROM sel s JOIN t7p p ON p.doc_id = s.doc_id AND p.pos = s.pos),
        |f AS (SELECT doc_id, count(*) AS cnt, min(h) AS fp_min, max(h) AS fp_max
        |      FROM selh GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(f.cnt, 0) AS BIGINT) AS n_fingerprints,
        |  f.fp_min, f.fp_max
        |FROM t7docs d LEFT JOIN f USING (doc_id)""".stripMargin)
    val fp = Text.winnowFingerprints(col("text"), k, w)
    val native = df.select(col("doc_id"),
      size(fp).cast("long").as("n_fingerprints"),
      array_min(fp).as("fp_min"), array_max(fp).as("fp_max"))
    assert(replay.exceptAll(native).isEmpty && native.exceptAll(replay).isEmpty,
      "SQL selection replay diverges from the native winnow loop")
  }

  test("d3: LSH buckets are text-deterministic and exactly one per band") {
    val docs = Tables.documents(spark, sf)
    val b = SparkEntry.queries("d3_lsh_buckets")(spark, sf).cache()
    try {
      // identical texts land in the SAME bucket in EVERY band — the
      // property that makes banding a dedup candidate generator at all
      val j = docs.select("doc_id", "text").join(b, "doc_id")
      assert(j.select("text", "band", "bucket").distinct().count()
        === j.select("text", "band").distinct().count())
      // every signed doc emits exactly one bucket per band (8 bands)
      assert(b.groupBy("doc_id")
        .agg(countDistinct(col("band")).as("nb"), count(lit(1)).as("n"))
        .filter(col("nb") =!= 8 || col("n") =!= 8).count() === 0)
    } finally b.unpersist()
  }

  test("d4: simhash is a pure function of text on the corpus") {
    val docs = Tables.documents(spark, sf)
    val s = SparkEntry.queries("d4_simhash_sigs")(spark, sf)
    val j = docs.select("doc_id", "text").join(s, "doc_id")
    // exact duplicates (the corpus has them by construction) must agree
    // bit-for-bit — a broken token weighting would break this first
    assert(j.select("text", "simhash64").distinct().count()
      === j.select("text").distinct().count())
  }

  test("d12: cluster labels are sound on the real corpus (pair-consistent, min-id)") {
    val docs = Tables.documents(spark, sf)
    val pairs = graft.dedup.Dedup
      .minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
      .select(col("id1"), col("id2")).cache()
    try {
      assert(pairs.count() > 0, "gate needs real near-dup pairs in the corpus")
      val clusters = SparkEntry.queries("d12_dup_clusters")(spark, sf)
      val label = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every edge's endpoints carry the same label (components closed
      // over the pair relation), and each label is its component's min id
      pairs.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(label(a) === label(b), s"pair ($a,$b) split across clusters")
      }
      label.groupBy(_._2).foreach { case (lbl, members) =>
        assert(lbl === members.keys.min, s"label $lbl is not its component's min id")
      }
    } finally pairs.unpersist()
  }

  test("t18: bloom decontamination never misses real contamination; FP rate bounded") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    // ground truth: exact shingle-overlap join (what the bloom replaces)
    val benchGrams = bench
      .select(explode(Text.wordShingles(col("text"), 5)).as("g")).distinct()
    val exact = docs
      .select(col("doc_id"), explode(Text.wordShingles(col("text"), 5)).as("g"))
      .join(benchGrams, "g").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val flagged = SparkEntry.queries("t18_bloom_decontaminate")(spark, sf)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // Bloom guarantee: exactly-contaminated docs are ALWAYS flagged
    assert((exact -- flagged).isEmpty,
      s"bloom missed truly contaminated docs: ${(exact -- flagged).take(5)}")
    // and the benchmark docs themselves are contaminated by construction
    assert(exact.nonEmpty)
    // FP bound: per-doc FP probability compounds over ~n_grams probes;
    // at fpp=0.001 and ~30 shingles/doc, expect ~3% false-doc rate —
    // assert a 10% ceiling so a broken probe (flagging everything)
    // fails loudly while bloom-expected noise passes
    val total = docs.count()
    val fpDocs = (flagged -- exact).size
    assert(fpDocs <= 0.1 * total,
      s"bloom false-positive doc rate too high: $fpDocs of $total")
  }

  test("e1: every reported near-dup pair satisfies the exact cosine bound") {
    val emb = Tables.embeddings(spark, sf)
    val pairs = SparkEntry.queries("e1_embedding_neardups")(spark, sf).cache()
    try {
      // ordered, unique pairs
      assert(pairs.filter(col("id1") >= col("id2")).count() === 0)
      assert(pairs.distinct().count() === pairs.count())
      // recompute the cosine from the raw vectors: the published (rounded)
      // score must match and every pair must clear the 0.2 threshold —
      // i.e. the SRP bucketing produced no false reports
      val v = emb.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      val re = pairs
        .join(v.select(col("vec_id").as("id1"), col("v").as("v1")), "id1")
        .join(v.select(col("vec_id").as("id2"), col("v").as("v2")), "id2")
        .withColumn("cos2",
          org.apache.spark.sql.graft.VectorFunctions.cosineNative(col("v1"), col("v2")))
      assert(re.filter(abs(col("cos") - col("cos2")) > 1e-3).count() === 0)
      assert(re.filter(col("cos2") < 0.2 - 1e-3).count() === 0)
    } finally pairs.unpersist()
  }
}
