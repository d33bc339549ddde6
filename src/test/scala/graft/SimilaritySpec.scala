package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sim.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("dot / l2Norm / cosine on known vectors") {
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 0.0))).toDF("a", "b")
    val r = df.select(
      Similarity.dot($"a", $"b"),
      Similarity.l2Norm($"a"),
      Similarity.cosine($"a", $"b")).collect()(0)
    assert(r.getDouble(0) === 2.0)
    assert(r.getDouble(1) === 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("cosine is null for zero vectors, never NaN") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
    assert(df.select(Similarity.cosine($"a", $"b")).collect()(0).isNullAt(0))
  }

  test("bruteForceTopK: exact neighbors, rank order, self excluded") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), k = 2)
      .orderBy("rank").collect()
    assert(res.map(_.getLong(1)).toSeq === Seq(1L, 2L)) // closest first
    assert(res.map(_.getLong(3)).toSeq === Seq(1L, 2L)) // ranks 1,2
    assert(!res.map(_.getLong(1)).contains(0L))
  }

  test("annTopK recall: identical vectors always share a bucket") {
    val emb = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(-5.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val res = Similarity.annTopK(emb, emb.filter($"vec_id" === 0), k = 1, nPlanes = 4)
      .collect()
    assert(res.length === 1 && res(0).getLong(1) === 1L)
    assert(res(0).getDouble(2) === 1.0)
  }

  test("mmrTopK: penalizes redundancy, keeps relevance at rank 1") {
    // query q = (1,0,0); candidates a and a' are near-copies of each
    // other OFF the query axis (cos≈0.91, mutual sim≈1.0), b sits on the
    // other side (cos 0.90, sim(a,b)≈0.64). Pure top-2 = {a, a'}; MMR's
    // redundancy penalty must promote b to rank 2:
    //   a': 0.7·0.909 − 0.3·1.00 = 0.336  <  b: 0.7·0.900 − 0.3·0.638 = 0.438
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),        // query
      (1L, Array(0.91f, 0.4146f, 0.0f)),      // a — most relevant
      (2L, Array(0.909f, 0.4168f, 0.0f)),     // a' — near-copy of a
      (3L, Array(0.9f, -0.436f, 0.0f))        // b — diverse, close cos
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(vecs, vecs.filter(col("vec_id") === 100L),
        kCand = 3, k = 3).collect()
      .map(r => r.getAs[Long]("mmr_rank") -> r.getAs[Long]("neighbor_id")).toMap
    assert(got(1L) === 1L, "rank 1 must be the relevance argmax")
    assert(got(2L) === 3L, "rank 2 must be the diverse candidate, not the near-copy")
    assert(got(3L) === 2L)
    // sanity: pure cosine top-2 WOULD have taken the near-copy
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 100L), k = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(brute === Set(1L, 2L))
  }

  test("mmrTopK: a NaN-scored candidate ranks last, never displacing a number") {
    // cosines run over the common prefix, so the 2-dim query gives b a
    // finite cosine (0.9939) while b's NaN third component makes its
    // similarity to the first pick a — and so its MMR score — NaN.
    // c scores 0.7·0.7071 − 0.3·0.7071 = 0.2828 and must outrank b.
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f)),               // query
      (1L, Array(1.0f, 0.0f, 0.0f)),           // a — picked first (cos 1)
      (2L, Array(0.9f, 0.1f, Float.NaN)),      // b — NaN score after a
      (3L, Array(0.5f, 0.5f, 0.0f))            // c
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(vecs, vecs.filter(col("vec_id") === 100L),
        kCand = 3, k = 3).collect()
      .map(r => r.getAs[Long]("mmr_rank") -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score")))
      .toMap
    assert(got(1L)._1 === 1L)
    assert(got(2L)._1 === 3L, "a finite score must displace a NaN one")
    assert(got(3L)._1 === 2L && got(3L)._2.isNaN)
  }

  test("labelCentroids: per-dimension mean by label") {
    val emb = Seq(
      (0L, Seq(1.0f, 3.0f), 7),
      (1L, Seq(3.0f, 5.0f), 7),
      (2L, Seq(10.0f, 10.0f), 8)).toDF("vec_id", "embedding", "label")
    val m = Similarity.labelCentroids(emb)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m((7, 0)) === 2.0 && m((7, 1)) === 4.0 && m((8, 0)) === 10.0)
  }

  test("srpBucket deterministic across evaluations") {
    val emb = Seq((0L, Seq(0.5, -1.5, 2.0))).toDF("id", "v")
    val b1 = emb.select(Similarity.srpBucket($"v", 8)).collect()(0).getLong(0)
    val b2 = emb.select(Similarity.srpBucket($"v", 8)).collect()(0).getLong(0)
    assert(b1 === b2)
    assert(b1 >= 0 && b1 < 256)
  }

  test("ivfTopK: identical vector lands in same cell and is found at rank 1") {
    val gen = new scala.util.Random(3)
    val base = (0L until 40L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
    // vec 99 duplicates vec 25 -> same cell by construction, cos 1.0
    val emb = (base :+ (99L, base(25)._2)).toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 99), k = 3,
      nCells = 4, nProbes = 2)
    val top = res.orderBy("rank").collect()
    assert(top(0).getLong(1) === 25L)
    assert(top(0).getDouble(2) === 1.0)
  }

  test("ivfTopK probes limit candidate cells") {
    val gen = new scala.util.Random(11)
    val emb = (0L until 30L).map(i => (i, Seq.fill(8)(gen.nextFloat()))).toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 2), k = 5, nCells = 4, nProbes = 1)
    // every query returns rows and ranks are dense from 1
    val byQ = res.collect().groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L))
    byQ.values.foreach(rs => assert(rs.map(_.getLong(3)).sorted.toSeq === (1L to rs.length).toSeq))
  }

  test("kmeansCentroids: refinement is deterministic and improves within-cell cohesion") {
    val gen = new scala.util.Random(5)
    val emb = (0L until 60L).map(i => (i, Seq.fill(8)(gen.nextFloat()))).toDF("vec_id", "embedding")
    val c0 = Similarity.kmeansCentroids(emb, nCells = 4, iters = 2)
    val c1 = Similarity.kmeansCentroids(emb, nCells = 4, iters = 2)
    assert(c0.map(_.toSeq).toSeq === c1.map(_.toSeq).toSeq) // deterministic
    assert(c0.length === 4 && c0.forall(_.length === 8))
    // refined IVF still finds the exact duplicate
    val withDup = emb.union(Seq((99L, emb.filter($"vec_id" === 7).collect()(0).getSeq[Float](1))).toDF)
    val res = Similarity.ivfTopK(withDup, withDup.filter($"vec_id" === 99), k = 1,
      nCells = 4, nProbes = 2, kmeansIters = 2)
    assert(res.collect()(0).getLong(1) === 7L)
  }

  test("labelCentroidsTyped (Aggregator) equals posexplode labelCentroids") {
    val gen = new scala.util.Random(9)
    val emb = (0L until 50L).map(i => (i, Seq.fill(6)(gen.nextFloat()), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val viaExplode = Similarity.labelCentroids(emb)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val typed = Similarity.labelCentroidsTyped(emb, dim = 6)
      .collect().flatMap { r =>
        val label = r.getInt(0)
        r.getSeq[Double](1).zipWithIndex.map { case (m, pos) => (label, pos) -> m }
      }.toMap
    assert(typed.keySet === viaExplode.keySet)
    // labelCentroids accumulates in decimal(20,10) (oracle-stable), the
    // typed Aggregator in raw doubles — agreement is bounded by the
    // 1e-10-per-element quantization, not machine epsilon
    typed.foreach { case (k, m) => assert(math.abs(m - viaExplode(k)) < 1e-8) }
  }

  /** recall@k of an approximate result against the exact brute-force
    * top-k: |approx ∩ exact| / |exact|, averaged over queries.
    */
  private def recallAtK(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    per.sum / per.size
  }

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  test("ANN recall gate: SRP and IVF recall@5 vs brute force on real embeddings") {
    // The driver checks s2/s4 rows-only (bucket assignment is hash-keyed,
    // not SQL-expressible); THIS is the quality gate — a bucketing bug that
    // silently returned near-random neighbors would pass row counts but
    // crater recall. Same parameters as the registered queries
    // (s2: nPlanes=4 nTables=8, s4: auto-sized cells/probes — at this
    // corpus √500 → 23 cells, 3 probes), sf0.01 embeddings, 16 queries.
    // Everything is seeded, so the measured recall is exactly
    // reproducible — no flake margin needed in the floor.
    //
    // Measured on this data (uniform 64-dim vectors — LSH's worst case)
    // with the native splitmix-weight SrpBucket: single-table SRP
    // nPlanes=6 gives recall ~0.06 (which this gate caught); 4 planes x
    // 8 tables gives 0.587, x 12 gives 0.800, x 16 gives 0.925 at
    // candidate budget nTables·N/2^nPlanes; IVF at the auto sizing
    // (23 cells / 3 probes, ~13% candidate fraction) gives 0.913. More
    // tables / more probes push recall toward 1 at proportional cost.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 16)
    val exact = topkSets(Similarity.bruteForceTopK(emb, queries, k = 5))
    // registered parameters: auto planes (= 4 at this corpus) × 12 tables
    val srp = topkSets(Similarity.annTopK(emb, queries, k = 5, nTables = 12,
      maxDim = 64))
    val ivf = topkSets(Similarity.ivfTopK(emb, queries, k = 5))
    val srpRecall = recallAtK(srp, exact)
    val ivfRecall = recallAtK(ivf, exact)
    info(f"recall@5: srp=$srpRecall%.3f ivf=$ivfRecall%.3f")
    assert(srpRecall >= 0.6, s"SRP recall@5 $srpRecall below floor 0.6")
    assert(ivfRecall >= 0.6, s"IVF recall@5 $ivfRecall below floor 0.6")
  }

  test("annTopKInt8: int8 prefilter keeps recall and cuts exact-rescore cost") {
    // Same parameters as registered s7_ann_int8. Two claims gated here:
    // (1) recall survives the int8 prefilter (quantizing a unit vector
    // perturbs each element by <= 1/254, so top-32-of-candidates by
    // integer dot still contains the true top-5), and (2) the exact
    // rescore runs on at most nQueries*rerank rows where the plain SRP
    // path exact-scores EVERY deduped candidate pair.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 16)
    val exact = topkSets(Similarity.bruteForceTopK(emb, queries, k = 5))
    // registered parameters: auto planes (= 4 at this corpus) × 12 tables
    val int8 = topkSets(Similarity.annTopKInt8(emb, queries, k = 5,
      nTables = 12, rerank = 32, maxDim = 64))
    val recall = recallAtK(int8, exact)
    // exact comparisons in the plain path = all candidate pairs; in the
    // int8 path = rows actually reaching the exact rescore. Both are
    // MEASURED via k = MaxValue (rankTopK then keeps one row per scored
    // pair) — a regression that dropped the prerank filter would inflate
    // the measured count and fail here, not slip past a constant.
    val fullComparisons = Similarity.annTopK(emb, queries, k = Int.MaxValue,
      nPlanes = 4, nTables = 12, maxDim = 64).count()
    val int8Comparisons = Similarity.annTopKInt8(emb, queries, k = Int.MaxValue,
      nPlanes = 4, nTables = 12, rerank = 32, maxDim = 64).count()
    info(f"recall@5=$recall%.3f exact-comparisons: full=$fullComparisons int8=$int8Comparisons")
    assert(recall >= 0.6, s"int8-prefiltered recall@5 $recall below floor 0.6")
    assert(int8Comparisons <= 16L * 32L, "prerank must cap rescore at nQueries*rerank")
    assert(int8Comparisons * 2 < fullComparisons,
      s"int8 prefilter should cut exact comparisons >2x (full=$fullComparisons, int8=$int8Comparisons)")
  }

  test("ivfTopKInt8: int8 prefilter keeps IVF recall and caps the exact rescore") {
    // Same parameters as registered s8 (auto cells/probes, rerank=16):
    // cell assignment is cosine-based (norm-invariant), so recall tracks
    // plain IVF
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 16)
    val exact = topkSets(Similarity.bruteForceTopK(emb, queries, k = 5))
    // rerank=16: IVF's probed-cell candidate stream is already narrow
    // (~65/query at the auto sizing here), so the prefilter budget sits
    // below a quarter of it — at corpus scale the candidate stream grows
    // ~N^(3/4) while rerank stays fixed, so the cut only sharpens
    val ivf8 = topkSets(Similarity.ivfTopKInt8(emb, queries, k = 5, rerank = 16))
    val recall = recallAtK(ivf8, exact)
    // plain IVF exact-scores every probed-cell candidate; the int8 path's
    // rescore count is MEASURED (k = MaxValue keeps one row per pair)
    val fullComparisons = Similarity.ivfTopK(emb, queries, k = Int.MaxValue).count()
    val int8Comparisons = Similarity.ivfTopKInt8(emb, queries, k = Int.MaxValue,
      rerank = 16).count()
    info(f"recall@5=$recall%.3f exact-comparisons: full=$fullComparisons int8=$int8Comparisons")
    assert(recall >= 0.6, s"int8-prefiltered IVF recall@5 $recall below floor 0.6")
    assert(int8Comparisons <= 16L * 16L, "prerank must cap rescore at nQueries*rerank")
    assert(int8Comparisons * 2 < fullComparisons,
      s"int8 prefilter should cut exact comparisons >2x (full=$fullComparisons, int8=$int8Comparisons)")
  }

  test("IVF auto-sizing: cells grow as √N and the probed fraction shrinks") {
    // unit contract: √N between the floor and the ceiling
    assert(Similarity.autoCells(500) === 23)
    assert(Similarity.autoCells(200000) === 448)
    assert(Similarity.autoCells(4) === 16) // floor keeps tiny corpora partitioned
    assert(Similarity.autoCells(1000000000000L) === 4096) // matrix-size ceiling
    // cell count grows monotonically with corpus size…
    val cells = Seq(500L, 2000L, 200000L, 20000000L).map(Similarity.autoCells)
    assert(cells === cells.sorted && cells.distinct === cells, s"cells must grow: $cells")
    // …probes grow too, but the probed FRACTION nProbes/nCells shrinks —
    // the property the static nCells=16 default lacked (it scanned a
    // fixed 1/8 of the corpus per query at any scale)
    val fracs = cells.map(c => Similarity.autoProbes(c).toDouble / c)
    assert(fracs === fracs.sorted.reverse, s"probed fraction must shrink: $fracs")
    // end-to-end: the candidate fraction a query actually scans drops
    // between the two real corpora (500 → 23 cells/3 probes ≈ 13%;
    // 2000 → 45/4 ≈ 8.9%), measured via k = MaxValue (one row per
    // scored pair)
    def fraction(dir: String): Double = {
      val emb = Tables.embeddings(spark, dir)
      val n = emb.count()
      val q = emb.filter($"vec_id" < 16)
      Similarity.ivfTopK(emb, q, k = Int.MaxValue).count().toDouble / (16.0 * (n - 1))
    }
    val f001 = fraction("/root/testdata/sf0.01")
    val f01 = fraction("/root/testdata/sf0.1")
    info(f"auto-sized candidate fraction: sf0.01=$f001%.3f sf0.1=$f01%.3f")
    assert(f01 < f001, s"auto-sizing must shrink the scanned fraction as N grows ($f001 -> $f01)")
  }

  test("SRP auto-sizing: planes grow as log2(N), keeping bucket occupancy constant") {
    // at the gated test corpora auto == the old fixed 4 (so every recall
    // number above is unchanged); past them the plane count grows with
    // log2(N) and per-bucket occupancy N/2^planes stays ~bounded — the
    // fixed-plane failure mode was candidates ∝ N
    assert(Similarity.autoPlanes(500) === 4)
    assert(Similarity.autoPlanes(2000) === 4)
    assert(Similarity.autoPlanes(200000) === 11)
    assert(Similarity.autoPlanes(0) === 4) // degenerate floor
    assert(Similarity.autoPlanes(Long.MaxValue) === 24) // ceiling
    val ns = Seq(2000L, 200000L, 20000000L)
    val planes = ns.map(Similarity.autoPlanes)
    assert(planes === planes.sorted, s"planes must grow: $planes")
    val occupancy = ns.zip(planes).map { case (n, p) => n.toDouble / (1L << p) }
    assert(occupancy.forall(o => o <= 2 * Similarity.srpTargetPerBucket),
      s"bucket occupancy must stay bounded: $occupancy")
  }

  test("IvfIndex: builds once, reuses files, and indexed search equals the inline path") {
    import graft.sim.IvfIndex
    val gen = new scala.util.Random(17)
    val emb = (0L until 80L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
      .toDF("vec_id", "embedding")
    // the index key is basename + full-path hash; a private tag keeps
    // this test from racing the suites that ensure the real sf dirs
    val fakeDir = "/x/ivf_spec_corpus"
    IvfIndex.drop(fakeDir)
    val (_, c1) = IvfIndex.ensure(spark, fakeDir, emb)
    val success = new java.io.File(committedLeaf(IvfIndex.root(fakeDir), "corpus"), "_SUCCESS")
    assert(success.isFile)
    val stamp = success.lastModified
    // by-name corpus: the reuse path must not evaluate (or scan) it
    val (a2, c2) = IvfIndex.ensure(spark, fakeDir,
      { fail("cold corpus must not be evaluated on reuse"); emb })
    assert(c1 === c2)
    assert(success.lastModified === stamp, "reuse must not rewrite the index")
    // the persisted index and the inline assignment are the SAME search
    val queries = emb.filter($"vec_id" < 4)
    assert(topkSets(Similarity.ivfTopKAssigned(a2, c2, queries, k = 3)) ===
      topkSets(Similarity.ivfTopK(emb, queries, k = 3)))
    assert(topkSets(Similarity.ivfTopKInt8Assigned(a2, c2, queries, k = 3, rerank = 8)) ===
      topkSets(Similarity.ivfTopKInt8(emb, queries, k = 3, rerank = 8)))
    IvfIndex.drop(fakeDir)
  }

  test("IvfIndex.append: appended generations equal a cold same-centroid " +
       "assignment; idempotent per batchKey; no base index fails loudly") {
    import graft.sim.IvfIndex
    val gen = new scala.util.Random(19)
    val all = (0L until 100L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
    val corpus = all.filter(_._1 % 10 != 0).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 % 10 == 0).toDF("vec_id", "embedding")
    val fakeDir = "/x/ivf_append_spec"
    IvfIndex.drop(fakeDir, subset = "inc")
    // append before ensure: no quantizer to assign against
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    }
    assert(ex.getMessage.contains("ensure"))
    val (_, cents) = IvfIndex.ensure(spark, fakeDir, corpus, subset = "inc")
    val (appended, cA) = IvfIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(cA === cents, "append must never move the quantizer")
    // bit equality with a cold assignment of corpus ∪ batch under the
    // SAME centroids — the fold == one-shot contract for vector search
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"__cell", $"__qc", $"__sc")
      .collect().map(_.toSeq).toSet
    val cold = graft.sim.Similarity.assignCells(
      all.toDF("vec_id", "embedding"), cents, "vec_id", "embedding")
    assert(rows(appended) === rows(cold),
      "appended index must equal the cold same-centroid assignment")
    val nAppended = appended.count()
    // a replayed batch key overwrites its generation, never
    // double-counts (the overwrite invalidates the PRE-replay frame's
    // file listing — read the refreshed handle, as a caller would)
    val (replayed, _) = IvfIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(replayed.count() === nAppended)
    assert(rows(replayed) === rows(cold))
    // and the search over the appended index is the inline search over
    // the full corpus with those centroids
    val queries = all.take(4).toDF("vec_id", "embedding")
    assert(topkSets(Similarity.ivfTopKAssigned(replayed, cents, queries, k = 3)) ===
      topkSets(Similarity.ivfTopKAssigned(cold, cents, queries, k = 3)))
    IvfIndex.drop(fakeDir, subset = "inc")
  }

  test("SrpIndex.append: appended generations search like the inline path " +
       "over the full corpus; idempotent per batchKey; no base fails loudly") {
    import graft.sim.SrpIndex
    val gen = new scala.util.Random(23)
    val all = (0L until 100L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
    val corpus = all.filter(_._1 % 10 != 0).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 % 10 == 0).toDF("vec_id", "embedding")
    // geometry precondition: the base corpus' auto-sizing equals the
    // full corpus' (log-scaled), so inline-vs-appended equality is exact
    assert(Similarity.autoPlanes(90) === Similarity.autoPlanes(100))
    val fakeDir = "/x/srp_append_spec"
    SrpIndex.drop(fakeDir, 4, subset = "inc")
    val ex = intercept[IllegalArgumentException] {
      SrpIndex.append(spark, fakeDir, 4, "b0", batch, subset = "inc")
    }
    assert(ex.getMessage.contains("ensure"))
    val h0 = SrpIndex.ensure(spark, fakeDir, corpus, nTables = 4, subset = "inc")
    val h1 = SrpIndex.append(spark, fakeDir, 4, "b0", batch, subset = "inc")
    assert((h1.planes, h1.nTables, h1.groups) === ((h0.planes, h0.nTables, h0.groups)),
      "append must never move the geometry")
    assert(h1.vectors.count() === 100L)
    assert(h1.buckets.count() === 100L * 4)
    // a replayed batch key overwrites its generation, never double-counts
    val h2 = SrpIndex.append(spark, fakeDir, 4, "b0", batch, subset = "inc")
    assert(h2.buckets.count() === 100L * 4 && h2.vectors.count() === 100L)
    // the appended index IS the full corpus under this geometry: both
    // search paths agree (the ensure-test equality, through the seam)
    val allDf = all.toDF("vec_id", "embedding")
    val queries = allDf.filter($"vec_id" < 4)
    assert(topkSets(Similarity.annTopKIndexed(h2, queries, k = 3)) ===
      topkSets(Similarity.annTopK(allDf, queries, k = 3, nTables = 4)))
    assert(topkSets(Similarity.annTopKInt8Indexed(h2, queries, k = 3, rerank = 8)) ===
      topkSets(Similarity.annTopKInt8(allDf, queries, k = 3, nTables = 4, rerank = 8)))
    SrpIndex.drop(fakeDir, 4, subset = "inc")
  }

  test("SrpIndex: builds once, reuses files, and indexed search equals the inline path") {
    import graft.sim.SrpIndex
    val gen = new scala.util.Random(29)
    val emb = (0L until 90L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
      .toDF("vec_id", "embedding")
    val fakeDir = "/x/srp_spec_corpus"
    SrpIndex.drop(fakeDir, nTables = 4)
    val h1 = SrpIndex.ensure(spark, fakeDir, emb, nTables = 4)
    val success = new java.io.File(committedLeaf(SrpIndex.root(fakeDir, 4), "buckets"), "_SUCCESS")
    assert(success.isFile)
    val stamp = success.lastModified
    // planes persisted = the auto sizing at this corpus; reuse must not
    // re-evaluate (or re-scan) the by-name corpus
    assert(h1.planes === graft.sim.Similarity.autoPlanes(90))
    val h2 = SrpIndex.ensure(spark, fakeDir,
      { fail("cold corpus must not be evaluated on reuse"); emb }, nTables = 4)
    assert((h2.planes, h2.nTables, h2.groups) === ((h1.planes, h1.nTables, h1.groups)))
    assert(success.lastModified === stamp, "reuse must not rewrite the index")
    // the persisted index and the inline paths are the SAME search —
    // exact variant and int8-prefiltered variant both
    val queries = emb.filter($"vec_id" < 4)
    assert(topkSets(Similarity.annTopKIndexed(h2, queries, k = 3)) ===
      topkSets(Similarity.annTopK(emb, queries, k = 3, nTables = 4)))
    assert(topkSets(Similarity.annTopKInt8Indexed(h2, queries, k = 3, rerank = 8)) ===
      topkSets(Similarity.annTopKInt8(emb, queries, k = 3, nTables = 4, rerank = 8)))
    SrpIndex.drop(fakeDir, nTables = 4)
  }

  /** One store whose empty-corpus handle [[StoreLog.ensure]] memoizes:
    * `ensure` returns the handle's frames — its main frame first, then
    * searches over it and one row per quantizer entry, all of which an
    * empty corpus must leave empty.
    */
  private case class EmptyCorpus(name: String, empty: DataFrame, full: DataFrame,
                                 ensure: (String, () => DataFrame) => Seq[DataFrame],
                                 root: String => java.io.File, drop: String => Unit)

  private lazy val emptyCorpusStores = {
    import graft.sim._, graft.dedup._
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val vecs = (0L until 60L).map(i => (i, Seq.fill(16)(new scala.util.Random(i).nextFloat())))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = (0L until 20L).map(i => (i, s"the quick brown fox item$i")).toDF("doc_id", "text")
    def n(s: Seq[_]): DataFrame = spark.range(s.size).toDF()
    Seq(
      EmptyCorpus("IvfIndex", noVecs, vecs, { (d, c) =>
        val (a, cents) = IvfIndex.ensure(spark, d, c())
        Seq(a, n(cents), Similarity.ivfTopKAssigned(a, cents, queries, k = 3),
          Similarity.ivfTopKInt8Assigned(a, cents, queries, k = 3))
      }, IvfIndex.root(_), IvfIndex.drop(_)),
      EmptyCorpus("PqIndex", noVecs, vecs, { (d, c) =>
        val (codes, cb) = PqIndex.ensure(spark, d, c())
        Seq(codes, n(cb), Similarity.pqCandidatePairsEncoded(codes, cb, noVecs, kCand = 5))
      }, PqIndex.root(_), PqIndex.drop(_)),
      EmptyCorpus("IvfPqIndex", noVecs, vecs, { (d, c) =>
        val (codes, cents, cb) = IvfPqIndex.ensure(spark, d, c())
        Seq(codes, n(cents), n(cb),
          Similarity.ivfPqCandidatePairs(codes, cents, cb, noVecs, kCand = 5))
      }, IvfPqIndex.root(_), d => { IvfPqIndex.drop(d); IvfIndex.drop(d); PqIndex.drop(d) }),
      EmptyCorpus("SrpIndex", noVecs, vecs, { (d, c) =>
        val h = SrpIndex.ensure(spark, d, c(), nTables = 4)
        Seq(h.buckets, Similarity.annTopKIndexed(h, queries, k = 3),
          Similarity.annTopKInt8Indexed(h, queries, k = 3))
      }, SrpIndex.root(_, 4), SrpIndex.drop(_, 4)),
      EmptyCorpus("LshIndex", noDocs, docs,
        (d, c) => Seq(LshIndex.ensure(spark, d, c()).buckets),
        LshIndex.root(_, 3, 8, 4), LshIndex.drop(_)),
      EmptyCorpus("HashLedger", noDocs, docs,
        (d, c) => Seq(HashLedger.ensure(spark, d, c()).hashes),
        HashLedger.root(_), HashLedger.drop(_)))
  }

  emptyCorpusStores.foreach { c =>
    test(s"${c.name}.ensure on an empty corpus returns empty searches, not an error") {
      val dir = s"/x/${c.name}_empty_spec"
      c.drop(dir)
      assert(c.ensure(dir, () => c.empty).map(_.count()).forall(_ == 0))
      // the memo serves repeat calls without re-evaluating the corpus
      val again = c.ensure(dir, () => fail("empty-corpus reuse must not re-evaluate the corpus"))
      assert(again.head.count() === 0)
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
      assert(files(c.root(dir)).filter(_.exists).isEmpty, "an empty corpus must persist nothing")
      // drop forgets the memo: the next ensure builds the corpus it is given
      c.drop(dir)
      assert(c.ensure(dir, () => c.full).head.count() > 0,
        "ensure after drop must not serve the memoized empty handle")
      c.drop(dir)
    }
  }

  test("SrpIndex.autoGroups: bounded directory count, full files per group") {
    import graft.sim.SrpIndex.{autoGroups, targetRowsPerGroup}
    assert(autoGroups(0) === 16)            // floor
    assert(autoGroups(60000) === 16)        // sf0.1 × 12 tables stays at floor
    assert(autoGroups(32L * targetRowsPerGroup) === 32)
    assert(autoGroups(Long.MaxValue) === 4096) // directory-count ceiling
    val gs = Seq(1000L, 10000000L, 1000000000L).map(autoGroups)
    assert(gs === gs.sorted, s"groups must grow with rows: $gs")
  }

  test("IvfIndex: a regenerated source corpus changes the index key (content stamp)") {
    // the reuse tag embeds a (path, length, mtime) stamp of the source
    // files: content regenerated at the SAME path must route to a fresh
    // index directory — the indexed search rescores against the index's
    // own persisted vectors, so a stale index is undetectable downstream
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_stamp").toFile
    val f = new java.io.File(tmp, "data.bin")
    java.nio.file.Files.writeString(f.toPath, "v1")
    val r1 = graft.sim.IvfIndex.root(tmp.getPath)
    java.nio.file.Files.writeString(f.toPath, "v2-regenerated")
    val r2 = graft.sim.IvfIndex.root(tmp.getPath)
    assert(r1 !== r2, "index root must change when source content changes")
  }

  test("IVF on an empty corpus returns empty, not an error") {
    // the HOF formulation's degenerate-input contract, preserved by the
    // native path: zero centroids -> empty probe array -> empty result
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(Similarity.ivfTopK(empty, queries, k = 3).count() === 0)
    assert(Similarity.ivfTopKInt8(empty, queries, k = 3).count() === 0)
  }

  test("int8Quantize: zero vector, saturation, bounds, scale invariance") {
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f)),  // zero vector -> scale 0, all-zero q
      (1L, Seq(1.0f, -2.0f, 4.0f)), // mixed signs, max positive
      (2L, Seq(0.5f, -1.0f, 2.0f)), // = vec1 * 0.5, exactly representable
      (3L, Seq(-3.0f, 1.5f, 0.0f))  // max-|x| element is negative
    ).toDF("vec_id", "embedding")
    val r = Similarity.int8Quantize(emb).collect().map(row => row.getLong(0) -> row).toMap

    // zero vector: scale 0 and an all-zero quantized array
    assert(r(0L).getDouble(1) === 0.0)
    assert(r(0L).getLong(2) === 0L && r(0L).getInt(3) === 0 && r(0L).getInt(4) === 0)
    assert(r(0L).getLong(5) === 0L)

    // hand-computed vec1 (scale 4): q = (32, -63, 127)
    assert(r(1L).getDouble(1) === 4.0)
    assert(r(1L).getLong(2) === 96L)   // 32 - 63 + 127
    assert(r(1L).getInt(3) === -63 && r(1L).getInt(4) === 127)

    // every non-zero vector saturates at its max-|x| element by construction
    Seq(1L, 2L, 3L).foreach(id => assert(r(id).getLong(5) >= 1L, s"vec $id n_saturated"))
    // quantized values stay in the int8 symmetric range
    r.values.foreach { row =>
      assert(row.getInt(3) >= -127 && row.getInt(4) <= 127)
    }
    // scale invariance: vec2 = vec1 * 0.5 (exact in float) -> identical
    // quantized summary, only scale differs
    assert(r(2L).getDouble(1) === 2.0)
    Seq(2, 3, 4, 5).foreach(i => assert(r(1L).get(i) === r(2L).get(i), s"col $i"))
    // a negative max-|x| element saturates at -127, never -128
    assert(r(3L).getInt(3) === -127)
  }

  test("withUnitNorm: dot of unit vectors equals cosine of originals") {
    val gen = new scala.util.Random(21)
    val emb = (0L until 10L).map(i => (i, Seq.fill(8)(gen.nextFloat()))).toDF("vec_id", "embedding")
    val unit = Similarity.withUnitNorm(emb, "embedding")
    val a = unit.filter($"vec_id" === 1).select($"unit_embedding".as("ua"),
      Similarity.toDouble($"embedding").as("va"))
    val b = unit.filter($"vec_id" === 2).select($"unit_embedding".as("ub"),
      Similarity.toDouble($"embedding").as("vb"))
    val r = a.crossJoin(b).select(
      org.apache.spark.sql.graft.VectorFunctions.dotNative($"ua", $"ub").as("dotUnit"),
      org.apache.spark.sql.graft.VectorFunctions.cosineNative($"va", $"vb").as("cosOrig")).collect()(0)
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    // zero vector stays zero, no NaN
    val z = Similarity.withUnitNorm(Seq((9L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"), "embedding")
      .select("unit_embedding").collect()(0).getSeq[Double](0)
    assert(z === Seq(0.0, 0.0))
  }

  test("PQ kernels: encode argmin, LUT and ADC on known vectors") {
    import org.apache.spark.sql.graft.PqFunctions
    // 4-dim vectors, m=2 subspaces of 2 dims, ksub=2 centroids each
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),   // subspace 0
      Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))   // subspace 1
    val df = Seq(
      (1L, Seq(0.1, 0.0, 0.9, 0.1)),  // sub0 → c0, sub1 → c1
      (2L, Seq(0.9, 1.0, 0.1, 0.8)))  // sub0 → c1, sub1 → c0
      .toDF("vec_id", "v")
    val codes = df.select($"vec_id",
      PqFunctions.pqEncodeNative($"v", cb).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(codes(1L) === Seq(0.toByte, 1.toByte))
    assert(codes(2L) === Seq(1.toByte, 0.toByte))
    // LUT entry (s, c) = exact squared subspace distance; ADC = sum of
    // the code-selected entries. Verify against hand arithmetic for
    // query (0.5, 0.5, 0.5, 0.5): every centroid is at distance 0.5.
    val r = Seq((0L, Seq(0.5, 0.5, 0.5, 0.5))).toDF("q", "v")
      .select(PqFunctions.pqLutNative($"v", cb).as("lut"))
      .crossJoin(df.filter($"vec_id" === 1)
        .select(PqFunctions.pqEncodeNative($"v", cb).as("codes")))
      .select($"lut",
        PqFunctions.pqAdcNative($"lut", $"codes", 2).as("adc"))
      .collect()(0)
    assert(r.getSeq[Double](0) === Seq(0.5, 0.5, 0.5, 0.5))
    assert(r.getDouble(1) === 1.0) // lut[0·2+0] + lut[1·2+1] = 0.5 + 0.5
    // ties break to the LOWEST centroid id (strict < scan): a vector
    // equidistant from both subspace-0 centroids encodes to 0
    val tie = Seq((3L, Seq(0.5, 0.5, 0.0, 1.0))).toDF("vec_id", "v")
      .select(PqFunctions.pqEncodeNative($"v", cb)).collect()(0).getSeq[Byte](0)
    assert(tie(0) === 0.toByte)
  }

  test("pqTopK recall gate vs brute force on real embeddings") {
    // Same shape as the SRP/IVF recall gate: the driver oracles s10's
    // rescore over its own dump, THIS gates that the ADC candidate
    // stage actually finds the true neighbors. Seeded + deterministic
    // k-means init → measured recall is exact, no flake margin.
    // kCand=64 of the 500-vector corpus = 12.8% candidate fraction —
    // the same budget regime as IVF's auto-sizing at this sf.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 16)
    val exact = topkSets(Similarity.bruteForceTopK(emb, queries, k = 5))
    val pq = topkSets(Similarity.pqTopK(emb, queries, k = 5, kCand = 64))
    val recall = recallAtK(pq, exact)
    info(f"recall@5: pq=$recall%.3f")
    assert(recall >= 0.6, s"PQ recall@5 $recall below floor 0.6")
  }

  test("PQ auto-sizing: 8-dim subspaces when possible, byte-bounded codewords") {
    assert(Similarity.autoSubspaces(64) === 8)
    assert(Similarity.autoSubspaces(48) === 6)
    assert(Similarity.autoSubspaces(12) === 3)   // 12 % 8 != 0 → dsub 4
    assert(Similarity.autoSubspaces(7) === 1)    // awkward dim → plain VQ
    assert(Similarity.autoCodewords(500) === 16)
    assert(Similarity.autoCodewords(50000) === 128)
    assert(Similarity.autoCodewords(1L << 20) === 256)  // byte ceiling
    assert(Similarity.autoCodewords(0) === 16)
  }

  test("PqIndex: builds once, reuses files, and indexed search equals the inline path") {
    import graft.sim.PqIndex
    val gen = new scala.util.Random(31)
    val emb = (0L until 80L).map(i => (i, Seq.fill(16)(gen.nextFloat())))
      .toDF("vec_id", "embedding")
    val fakeDir = "/x/pq_spec_corpus"
    PqIndex.drop(fakeDir)
    val (codes1, cb1) = PqIndex.ensure(spark, fakeDir, emb)
    val success = new java.io.File(committedLeaf(PqIndex.root(fakeDir), "codes"), "_SUCCESS")
    assert(success.isFile)
    val stamp = success.lastModified
    // by-name corpus: the reuse path must not evaluate (or scan) it
    val (codes2, cb2) = PqIndex.ensure(spark, fakeDir,
      { fail("cold corpus must not be evaluated on reuse"); emb })
    assert(cb1 === cb2)
    assert(success.lastModified === stamp, "reuse must not rewrite the index")
    // persisted codes == a fresh encode under the persisted codebooks
    val persisted = codes2.collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val fresh = Similarity.pqEncode(emb, cb2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(persisted === fresh)
    // the indexed path and the inline train+encode are the SAME search
    // (both codebooks come from the same deterministic train)
    val queries = emb.filter($"vec_id" < 4)
    val indexed = topkSets(Similarity.exactRerank(
      Similarity.pqCandidatePairsEncoded(codes2, cb2, queries, kCand = 16),
      emb, queries, k = 3))
    assert(indexed === topkSets(Similarity.pqTopK(emb, queries, k = 3, kCand = 16)))
    PqIndex.drop(fakeDir)
  }

  test("IvfPqIndex: composed search finds true neighbors and reuses the sibling indexes") {
    import graft.sim.{IvfPqIndex, PqIndex, IvfIndex}
    // recall gate on the real embeddings — the composition can only
    // lose what BOTH stages lose (cell pruning ∩ ADC ranking), gated at
    // the family floor. Same registered parameters as s11.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 16)
    val exact = topkSets(Similarity.bruteForceTopK(emb, queries, k = 5))
    val (codesByCell, cents, cb) = IvfPqIndex.ensure(spark, "/root/testdata/sf0.01", emb)
    val ivfpq = topkSets(Similarity.exactRerank(
      Similarity.ivfPqCandidatePairs(codesByCell, cents, cb, queries, kCand = 64),
      emb, queries, k = 5))
    val recall = recallAtK(ivfpq, exact)
    info(f"recall@5: ivfpq=$recall%.3f")
    assert(recall >= 0.6, s"IVF-PQ recall@5 $recall below floor 0.6")
    // the composed index reuses the siblings' quantizers verbatim
    val (_, centsIvf) = IvfIndex.ensure(spark, "/root/testdata/sf0.01",
      { fail("warm sibling ensure must not re-evaluate the corpus"); emb })
    val (_, cbPq) = PqIndex.ensure(spark, "/root/testdata/sf0.01",
      { fail("warm sibling ensure must not re-evaluate the corpus"); emb })
    assert(cents === centsIvf && cb === cbPq)
    // every vector keeps exactly one cell and its PqIndex code
    val n = emb.count()
    assert(codesByCell.count() === n)
    assert(codesByCell.select("vec_id").distinct().count() === n)
  }

  test("pqTopK on an empty corpus returns the empty frame, like its siblings") {
    // pqEncode constructs PqEncode (require codebooks nonEmpty) — the
    // short-circuit must fire BEFORE it, matching annTopK/ivfTopK and
    // the indexed path (ADVICE r16)
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(empty, queries, k = 3)
    assert(out.columns.toSeq === Seq("query_id", "neighbor_id", "cos", "rank"))
    assert(out.count() === 0)
    assert(Similarity.annTopK(empty, queries, k = 3).count() === 0)
  }

  test("PqIndex keys its geometry: a warm call with different (m, ksub) builds " +
       "its own artifact instead of serving the other geometry's codes") {
    import graft.sim.PqIndex
    val gen = new scala.util.Random(47)
    val emb = (0L until 64L).map(i => (i, Seq.fill(16)(gen.nextFloat())))
      .toDF("vec_id", "embedding")
    val fakeDir = "/x/pq_spec_geometry"
    PqIndex.drop(fakeDir)
    PqIndex.drop(fakeDir, m = 4, ksub = 16)
    val (_, cbAuto) = PqIndex.ensure(spark, fakeDir, emb)
    // warm source dir, DIFFERENT geometry: must train fresh codebooks of
    // the requested shape, not reuse the auto artifact
    val (codes2, cb2) = PqIndex.ensure(spark, fakeDir, emb, m = 4, ksub = 16)
    assert(cb2.length === 4 && cb2.forall(_.length === 16))
    assert(cb2 !== cbAuto)
    assert(PqIndex.root(fakeDir).getPath !== PqIndex.root(fakeDir, 4, 16).getPath)
    assert(new java.io.File(committedLeaf(PqIndex.root(fakeDir, 4, 16), "codes"), "_SUCCESS").isFile)
    // both artifacts coexist (geometry variants are not "superseded")
    assert(new java.io.File(committedLeaf(PqIndex.root(fakeDir), "codes"), "_SUCCESS").isFile)
    assert(codes2.collect().forall(_.getSeq[Byte](1).length === 4))
    PqIndex.drop(fakeDir)
    PqIndex.drop(fakeDir, m = 4, ksub = 16)
  }

  /** Parquet data files under a tree — the compact gates count them. */
  private def parquetCount(d: java.io.File): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(d)
  }

  private def genCount(base: java.io.File): Int =
    Option(base.listFiles).getOrElse(Array.empty[java.io.File])
      .count(_.getName.startsWith("append_"))

  test("IvfIndex.compact: folds generations (fewer files, zero gens), search " +
       "parity bit-exact, folded-key replay no-ops, crash at every phase self-heals") {
    import graft.sim.IvfIndex
    val gen = new scala.util.Random(41)
    val all = (0L until 120L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
    val corpus = all.filter(_._1 >= 40).toDF("vec_id", "embedding")
    val fakeDir = "/x/ivf_compact_spec"
    IvfIndex.drop(fakeDir, subset = "cpt")
    // compact before ensure fails loudly
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.compact(spark, fakeDir, "cpt")
    }
    assert(ex.getMessage.contains("ensure"))
    val (_, cents) = IvfIndex.ensure(spark, fakeDir, corpus, subset = "cpt")
    val base = IvfIndex.root(fakeDir, "cpt", spark.sessionState.newHadoopConf())
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"__cell", $"__qc", $"__sc").collect().map(_.toSeq).toSet
    def coldRows(upto: Long) = rows(graft.sim.Similarity.assignCells(
      all.filter(t => t._1 >= 40 || t._1 < upto).toDF("vec_id", "embedding"),
      cents, "vec_id", "embedding"))
    // five appended batches fold into the corpus leaf (crash recovery
    // of every committing operation is gated store-wide in StoreLogSpec)
    (0 until 5).foreach { i =>
      val batch = all.filter(t => t._1 >= i * 8 && t._1 < (i + 1) * 8)
        .toDF("vec_id", "embedding")
      IvfIndex.append(spark, fakeDir, s"p$i", batch, subset = "cpt")
    }
    val (folded, cF) = IvfIndex.compact(spark, fakeDir, "cpt")
    assert(cF === cents, "compact must never move the centroids")
    assert(rows(folded) === coldRows(40))
    assert(genCount(base) === 0)
    // a replay of a FOLDED batch key no-ops instead of double-counting
    val replay = all.filter(_._1 < 8).toDF("vec_id", "embedding")
    val (afterReplay, _) = IvfIndex.append(spark, fakeDir, "p0", replay, subset = "cpt")
    assert(rows(afterReplay) === coldRows(40))
    // a clean compact on a live appended index: fewer parquet files, zero
    // generations, bit-exact search parity
    val (appended, _) = IvfIndex.append(spark, fakeDir, "fresh",
      Seq((200L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding"), subset = "cpt")
    val filesBefore = parquetCount(base)
    val before = rows(appended)
    val (compacted, _) = IvfIndex.compact(spark, fakeDir, "cpt")
    assert(genCount(base) === 0)
    assert(parquetCount(base) < filesBefore, "compact must strictly drop file count")
    assert(rows(compacted) === before, "compaction must be a row permutation")
    val queries = all.take(4).toDF("vec_id", "embedding")
    val coldAll = graft.sim.Similarity.assignCells(
      all.toDF("vec_id", "embedding")
        .unionByName(Seq((200L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")),
      cents, "vec_id", "embedding")
    assert(topkSets(Similarity.ivfTopKAssigned(compacted, cents, queries, k = 3)) ===
      topkSets(Similarity.ivfTopKAssigned(coldAll, cents, queries, k = 3)))
    IvfIndex.drop(fakeDir, subset = "cpt")
  }

  test("SrpIndex.compact: folds generations on both leaves (fewer files, zero " +
       "gens), search parity, folded-key replay no-ops, crash at every phase self-heals") {
    import graft.sim.SrpIndex
    val gen = new scala.util.Random(43)
    val all = (0L until 120L).map(i => (i, Seq.fill(8)(gen.nextFloat())))
    val corpus = all.filter(_._1 >= 40).toDF("vec_id", "embedding")
    val fakeDir = "/x/srp_compact_spec"
    SrpIndex.drop(fakeDir, 4, subset = "cpt")
    val ex = intercept[IllegalArgumentException] {
      SrpIndex.compact(spark, fakeDir, 4, "cpt")
    }
    assert(ex.getMessage.contains("ensure"))
    val h0 = SrpIndex.ensure(spark, fakeDir, corpus, nTables = 4, subset = "cpt")
    val base = SrpIndex.root(fakeDir, 4, spark.sessionState.newHadoopConf(), "cpt")
    // five appended batches fold into both leaves (crash recovery of
    // every committing operation is gated store-wide in StoreLogSpec)
    (0 until 5).foreach { i =>
      val batch = all.filter(t => t._1 >= i * 8 && t._1 < (i + 1) * 8)
        .toDF("vec_id", "embedding")
      SrpIndex.append(spark, fakeDir, 4, s"p$i", batch, subset = "cpt")
    }
    val hF = SrpIndex.compact(spark, fakeDir, 4, "cpt")
    assert((hF.planes, hF.groups) === ((h0.planes, h0.groups)),
      "compact must never move the geometry")
    assert(hF.vectors.count() === 120L && hF.buckets.count() === 480L)
    assert(genCount(base) === 0)
    // a replay of a FOLDED batch key no-ops instead of double-counting
    val hReplay = SrpIndex.append(spark, fakeDir, 4, "p0",
      all.filter(_._1 < 8).toDF("vec_id", "embedding"), subset = "cpt")
    assert(hReplay.vectors.count() === 120L && hReplay.buckets.count() === 480L)
    // clean compact over a live appended index: fewer files, zero gens,
    // and the folded index searches exactly like the inline path over
    // the same rows (geometry pinned by the base corpus' auto-sizing)
    SrpIndex.append(spark, fakeDir, 4, "fresh",
      Seq((200L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding"), subset = "cpt")
    val filesBefore = parquetCount(base)
    val hc = SrpIndex.compact(spark, fakeDir, 4, "cpt")
    assert(genCount(base) === 0)
    assert(parquetCount(base) < filesBefore, "compact must strictly drop file count")
    assert(hc.vectors.count() === 121L && hc.buckets.count() === 484L)
    val allDf = all.toDF("vec_id", "embedding")
      .unionByName(Seq((200L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding"))
    val queries = allDf.filter($"vec_id" < 4)
    assert(topkSets(Similarity.annTopKIndexed(hc, queries, k = 3)) ===
      topkSets(Similarity.annTopK(allDf, queries, k = 3, nTables = 4)))
    SrpIndex.drop(fakeDir, 4, subset = "cpt")
  }

  test("PqIndex.append: appended generations equal a cold same-codebook " +
       "encode; idempotent; compact folds and the keys ledger blocks a " +
       "post-fold replay; no base fails loudly") {
    import graft.sim.PqIndex
    val gen = new scala.util.Random(47)
    val all = (0L until 100L).map(i => (i, Seq.fill(16)(gen.nextFloat())))
    val corpus = all.filter(_._1 >= 20).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 < 20).toDF("vec_id", "embedding")
    val fakeDir = "/x/pq_append_spec"
    PqIndex.drop(fakeDir, subset = "inc")
    val ex = intercept[IllegalArgumentException] {
      PqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    }
    assert(ex.getMessage.contains("ensure"))
    val (_, cb) = PqIndex.ensure(spark, fakeDir, corpus, subset = "inc")
    val (codes1, cbA) = PqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(cbA === cb, "append must never move the quantizer")
    // bit equality with a cold same-codebook encode of corpus ∪ batch
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toSeq)).toSet
    val cold = rows(Similarity.pqEncode(all.toDF("vec_id", "embedding"), cb))
    assert(rows(codes1) === cold,
      "appended code table must equal the cold same-codebook encode")
    // replay overwrites its own generation — never double-counts
    val (codes2, _) = PqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(rows(codes2) === cold)
    // and the ADC search over the appended table is the search over the
    // cold encode (same codes + books → same candidates)
    val queries = all.take(4).toDF("vec_id", "embedding")
    def pairs(codes: org.apache.spark.sql.DataFrame) =
      Similarity.pqCandidatePairsEncoded(codes, cb, queries, kCand = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(codes2) ===
      pairs(Similarity.pqEncode(all.toDF("vec_id", "embedding"), cb)))
    // compact: zero gens, fewer files, rows preserved
    val base = PqIndex.root(fakeDir, hadoopConf = spark.sessionState.newHadoopConf(),
      subset = "inc")
    val filesBefore = parquetCount(base)
    val (compacted, _) = PqIndex.compact(spark, fakeDir, subset = "inc")
    assert(rows(compacted) === cold)
    assert(genCount(base) === 0)
    assert(parquetCount(base) < filesBefore, "compact must strictly drop file count")
    // a replay of the FOLDED batch no-ops instead of double-counting
    val (afterReplay, _) = PqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(rows(afterReplay) === cold)
    PqIndex.drop(fakeDir, subset = "inc")
  }

  test("IvfPqIndex.append: appended generations equal the cold composed " +
       "layout; idempotent; compact folds; dropped sibling fails loudly") {
    import graft.sim.{IvfIndex, IvfPqIndex, PqIndex}
    val gen = new scala.util.Random(53)
    val all = (0L until 100L).map(i => (i, Seq.fill(16)(gen.nextFloat())))
    val corpus = all.filter(_._1 >= 20).toDF("vec_id", "embedding")
    val batch = all.filter(_._1 < 20).toDF("vec_id", "embedding")
    val fakeDir = "/x/ivfpq_append_spec"
    IvfPqIndex.drop(fakeDir, subset = "inc")
    IvfIndex.drop(fakeDir, subset = "inc")
    PqIndex.drop(fakeDir, subset = "inc")
    val ex = intercept[IllegalArgumentException] {
      IvfPqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    }
    assert(ex.getMessage.contains("ensure"))
    val (_, cents, cb) = IvfPqIndex.ensure(spark, fakeDir, corpus, subset = "inc")
    val (j1, cA, bA) = IvfPqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(cA === cents && bA === cb, "append must never move either quantizer")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"__codes", $"__cell")
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toSeq, r.getInt(2))).toSet
    val allDf = all.toDF("vec_id", "embedding")
    val coldJoined = Similarity.pqEncode(allDf, cb)
      .join(Similarity.assignCells(allDf, cents, "vec_id", "embedding")
        .select($"vec_id", $"__cell"), Seq("vec_id"))
    assert(rows(j1) === rows(coldJoined),
      "appended composed layout must equal the cold same-quantizer join")
    // replay overwrites its own generation
    val (j2, _, _) = IvfPqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(rows(j2) === rows(coldJoined))
    // composed search parity through the seam
    val queries = all.take(4).toDF("vec_id", "embedding")
    def pairs(codesByCell: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqCandidatePairs(codesByCell, cents, cb, queries, kCand = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(j2) === pairs(coldJoined.repartition($"__cell")))
    // compact: zero gens, fewer files, rows preserved; folded replay no-ops
    val base = IvfPqIndex.root(fakeDir, spark.sessionState.newHadoopConf(), "inc")
    val filesBefore = parquetCount(base)
    val (jc, _, _) = IvfPqIndex.compact(spark, fakeDir, subset = "inc")
    assert(genCount(base) === 0)
    assert(parquetCount(base) < filesBefore, "compact must strictly drop file count")
    assert(rows(jc) === rows(coldJoined))
    val (j3, _, _) = IvfPqIndex.append(spark, fakeDir, "b0", batch, subset = "inc")
    assert(rows(j3) === rows(coldJoined))
    // the composed index leans on its siblings' persisted quantizers:
    // dropping one must fail the next append loudly, never re-derive
    PqIndex.drop(fakeDir, subset = "inc")
    val ex2 = intercept[IllegalArgumentException] {
      IvfPqIndex.append(spark, fakeDir, "b9", batch, subset = "inc")
    }
    assert(ex2.getMessage.contains("codebooks"))
    IvfPqIndex.drop(fakeDir, subset = "inc")
    IvfIndex.drop(fakeDir, subset = "inc")
  }
}
