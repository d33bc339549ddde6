package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.analyze.Analytics
import graft.dedup.Dedup
import org.apache.spark.sql.graft.VectorFunctions
import graft.sim.Similarity
import graft.text.Text

/** Property-style invariants over ScalaCheck-generated data (SURVEY §5.2
  * point 4): telescoping diffs, percentile monotonicity, Jaccard metric
  * axioms, MinHash estimate vs true Jaccard.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val rng = new scala.util.Random(1234)

  test("index auto-sizing laws: monotone in N, bounded occupancy, clamped") {
    // the growth contracts behind the √N cells / log₂(N/target) planes
    // auto-sizing, over generated corpus sizes rather than fixed points
    val nGen = Gen.choose(1L, 4000000000000L)
    val ns = (0 until 200).map(_ => nGen.sample.get)
    for (Seq(a, b) <- ns.sorted.sliding(2) if a != b) {
      assert(Similarity.autoCells(a) <= Similarity.autoCells(b),
        s"autoCells must be monotone: $a -> $b")
      assert(Similarity.autoPlanes(a) <= Similarity.autoPlanes(b),
        s"autoPlanes must be monotone: $a -> $b")
    }
    ns.foreach { n =>
      val cells = Similarity.autoCells(n)
      assert(cells >= 16 && cells <= 4096)
      // within the clamp band, cells ~ √N means occupancy ~ √N too —
      // never more than ~2·√N (ceil slack)
      if (cells > 16 && cells < 4096)
        assert(n.toDouble / cells <= 2 * math.sqrt(n.toDouble), s"occupancy blew up at n=$n")
      val planes = Similarity.autoPlanes(n)
      assert(planes >= 4 && planes <= 24)
      // within the clamp band the bucket occupancy stays near the target
      if (planes > 4 && planes < 24)
        assert(n.toDouble / (1L << planes) <= 2 * Similarity.srpTargetPerBucket,
          s"bucket occupancy blew up at n=$n")
      val probes = Similarity.autoProbes(cells)
      assert(probes >= 2 && probes <= cells,
        s"probes must stay within the cell count at n=$n")
    }
  }

  test("native vector exprs == HOF twins bit-for-bit on random vectors incl. extremes") {
    // The native expressions accumulate in the same ascending-index order
    // as the sequential HOF forms, so equality must be EXACT (compare by
    // Double.compare to catch -0.0/NaN), across magnitudes up to the
    // overflow edge — both forms share left-to-right IEEE evaluation
    val dimGen = Gen.choose(1, 80)
    val valGen = Gen.choose(-1e6, 1e6)
    val pairs = (0 until 50).map { _ =>
      val d = dimGen.sample.get
      (List.fill(d)(valGen.sample.get), List.fill(d)(valGen.sample.get))
    } ++ Seq(
      (List(0.0, 0.0), List(1.0, -1.0)),            // zero norm -> null cosine
      (List(1e300, -1e300), List(1e-300, 5.0)),     // norm overflow edge
      (List(-0.0, 2.0), List(2.0, -0.0)))           // negative zero
    val rows = pairs.toDF("a", "b").select(
      VectorFunctions.dotNative($"a", $"b").as("nd"), Similarity.dot($"a", $"b").as("hd"),
      VectorFunctions.cosineNative($"a", $"b").as("nc"), Similarity.cosine($"a", $"b").as("hc"),
      VectorFunctions.maxAbsNative($"a").as("nm"), Similarity.int8Scale($"a").as("hm"),
      VectorFunctions.int8QuantizeNative($"a").as("nq"),
      Similarity.int8Array($"a", Similarity.int8Scale($"a"), "tinyint").as("hq")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) === 0)
      assert(r.isNullAt(2) === r.isNullAt(3))
      if (!r.isNullAt(2)) assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(3)) === 0)
      assert(java.lang.Double.compare(r.getDouble(4), r.getDouble(5)) === 0)
      assert(r.getSeq[Byte](6) === r.getSeq[Byte](7))
    }
  }

  test("W1 telescoping: sum of daily diffs == last - first per group") {
    // generated per-city daily series
    val rows = for {
      city <- Seq("a", "b", "c")
      day <- 1 to 20
    } yield (city, Timestamp.valueOf(f"2024-01-$day%02d 06:00:00"), rng.nextDouble() * 30)
    val df = rows.toDF("city", "t", "temp")

    val daily = df.groupBy($"city", to_date($"t").as("d")).agg(avg($"temp").as("v"))
    val firstLast = daily.groupBy("city")
      .agg(expr("min_by(v, d)").as("first"), expr("max_by(v, d)").as("last"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val w = org.apache.spark.sql.expressions.Window.partitionBy("city").orderBy("d")
    val sumDiffs = daily.withColumn("chg", $"v" - lag("v", 1).over(w))
      .filter($"chg".isNotNull)
      .groupBy("city").agg(sum($"chg").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    sumDiffs.foreach { case (city, s) =>
      val (first, last) = firstLast(city)
      assert(math.abs(s - (last - first)) < 1e-9)
    }
  }

  test("A8 percentile bounds: q_lo <= q_hi and fence contains the IQR band") {
    val xs = Gen.listOfN(500, Gen.choose(-1e4, 1e4)).sample.get
    val b = Analytics.percentileBounds(xs.toDF("v"), Seq("v")).collect()(0)
    val (qlo, qhi, lb, ub) = (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    assert(qlo <= qhi)
    assert(lb <= qlo && qhi <= ub)
  }

  test("Jaccard axioms: self=1, symmetric, bounded [0,1]") {
    val docs = Gen.listOfN(30,
      Gen.listOfN(12, Gen.oneOf("spark", "data", "row", "fast", "slow", "table", "query"))
        .map(_.mkString(" "))).sample.get
    val pairs = for (a <- docs.take(6); b <- docs.take(6)) yield (a, b)
    val df = pairs.toDF("ta", "tb")
      .select(Text.wordShingles($"ta", 2).as("sa"), Text.wordShingles($"tb", 2).as("sb"),
              ($"ta" === $"tb").as("same"))
      .select(Dedup.ngramJaccard($"sa", $"sb").as("jab"),
              Dedup.ngramJaccard($"sb", $"sa").as("jba"), $"same")
      .collect()
    df.foreach { r =>
      if (!r.isNullAt(0)) {
        val (jab, jba) = (r.getDouble(0), r.getDouble(1))
        assert(jab === jba)                    // symmetry
        assert(jab >= 0.0 && jab <= 1.0)       // bounds
        if (r.getBoolean(2)) assert(jab === 1.0) // identity
      }
    }
  }

  test("MinHash band-collision probability tracks Jaccard (S-curve direction)") {
    // near-identical pair vs unrelated pair: the near pair must share
    // strictly more LSH buckets
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "tokX") // ~0.95 shingle overlap
    val far = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
    val buckets = Dedup.lshBuckets(df, "id", "text", shingleSize = 2, bands = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def shared(i: Long, j: Long) = {
      val bi = buckets.filter(_._1 == i).map(b => (b._2, b._3)).toSet
      val bj = buckets.filter(_._1 == j).map(b => (b._2, b._3)).toSet
      (bi intersect bj).size
    }
    assert(shared(1L, 2L) > shared(1L, 3L))
    assert(shared(1L, 3L) === 0)
  }

  test("simhash hamming distance respects similarity ordering") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = base.replace("w60", "zz")
    val far = (200 to 260).map(i => s"w$i").mkString(" ")
    val sigs = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
      .select($"id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1L, 2L) < ham(1L, 3L))
  }

  test("hammingChunks pigeonhole: every pair within maxHamming shares >= 1 chunk (generated)") {
    // the no-escape guarantee ALL chunk-blocked near-dup paths (SimHash
    // d19, perceptual m14/m17/m19) rest on: maxHamming+1 disjoint chunks
    // cannot all be hit by <= maxHamming flips. Exercised on the REAL
    // Column over generated signatures and flip sets, across bounds.
    for (maxH <- Seq(0, 1, 3, 5, 10)) {
      val pairs = (0 until 300).map { _ =>
        val x = rng.nextLong()
        val d = rng.nextInt(maxH + 1)
        val bits = rng.shuffle((0 until 64).toList).take(d)
        (x, bits.foldLeft(x)((v, b) => v ^ (1L << b)))
      }
      val bad = pairs.toDF("x", "y")
        .select(arrays_overlap(
          Dedup.hammingChunks($"x", maxH),
          Dedup.hammingChunks($"y", maxH)).as("shares"))
        .filter(!$"shares").count()
      assert(bad === 0L, s"pigeonhole escape at maxHamming=$maxH")
    }
  }

  test("chunkPlan telescoping: offsets are gapless prefix sums per shard") {
    val docs = (0 until 120).map { i =>
      val words = (0 to rng.nextInt(40)).map(w => s"w$w").mkString(" ")
      (s"src${i % 4}", i.toLong, words)
    }.toDF("source", "doc_id", "t")
    val plan = Text.chunkPlan(docs, "source", "doc_id", "t", contextLen = 64)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("start_offset"), r.getAs[Long]("chunk_id")))
    plan.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      // first doc starts at 0; every next start = previous start + tokens
      assert(ordered.head._4 === 0L)
      ordered.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (_, _, n, off, _) = pair(0)
          val (_, _, _, nextOff, _) = pair(1)
          assert(nextOff === off + n)
        }
      }
      // chunk ids are non-decreasing and consistent with the offset
      ordered.foreach { case (_, _, _, off, chunk) => assert(chunk === off / 64) }
    }
  }

  test("hashSplit and weightedSourceSample agree on the content bucket") {
    // the same md5 bucket drives both: a doc sampled at fraction f must be
    // in the first f of bucket space, and split assignment is a partition
    // of the same space — so sampling at 0.8 keeps exactly the docs whose
    // bucket mod 100 < 80 scaled ... verified indirectly: sampling a
    // source at 1.0 keeps all, at 0.0 keeps none, monotone in between
    val docs = (0 until 200).map(i => (i.toLong, s"body $i", "s")).toDF("id", "text", "source")
    val k25 = Dedup.weightedSourceSample(docs, "source", "text", Map("s" -> 0.25)).count()
    val k50 = Dedup.weightedSourceSample(docs, "source", "text", Map("s" -> 0.5)).count()
    val k75 = Dedup.weightedSourceSample(docs, "source", "text", Map("s" -> 0.75)).count()
    assert(k25 <= k50 && k50 <= k75) // nested samples: monotone in fraction
    // nesting is exact, not just counts: the 25% sample is a subset of 50%
    val ids25 = Dedup.weightedSourceSample(docs, "source", "text", Map("s" -> 0.25))
      .select("id").collect().map(_.getLong(0)).toSet
    val ids50 = Dedup.weightedSourceSample(docs, "source", "text", Map("s" -> 0.5))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids25.subsetOf(ids50))
  }

  test("exactDedup: one keeper per distinct text, always the minimum id; idempotent") {
    // random corpus with heavy duplication: 40 distinct texts over 300 rows
    val texts = (0 until 40).map(i => s"text body number ${i % 40} with words")
    val rows = (0 until 300).map(i => (rng.nextLong().abs, texts(rng.nextInt(40))))
    val df = rows.toDF("id", "text")
    val out = Dedup.exactDedup(df, "id", "text").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val expectedMin = rows.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._1).min }
    assert(out === expectedMin) // exactly the distinct texts, each with min id
    // idempotence: dedup of a deduplicated frame is a no-op
    val once = Dedup.exactDedup(df, "id", "text")
    val twice = Dedup.exactDedup(once, "id", "text")
    assert(twice.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      once.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("dupClusters: a deep chain converges to one component (reach past " +
    "the seed-fused convergence check)") {
    // a PATH graph is the worst case for min-label propagation — diameter
    // = n-1 with every hop mattering. n = 400 needs ~9 observed doublings,
    // well past what a converged-early corpus exercises, so this pins the
    // reach arithmetic behind the seed-fused hop + default maxIter = 12
    // (an off-by-one that halves covered diameter throws here).
    val n = 400
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === n)
    assert(labels.values.toSet === Set(0L), "every chain node must reach label 0")
  }

  test("epochShuffle: each epoch is a permutation; epochs are distinct orders") {
    val df = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def order(seed: Int): Seq[Long] =
      Dedup.epochShuffle(df, "doc_id", seed, nShards = 8)
        .orderBy(col("shard"), col("pos")).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
    val e1 = order(1); val e2 = order(2)
    assert(e1.toSet === (0L until 500L).toSet, "epoch 1 must be a permutation")
    assert(e2.toSet === (0L until 500L).toSet, "epoch 2 must be a permutation")
    assert(e1 !== e2, "different seeds must give different orders")
    assert(order(1) === e1, "same seed must reproduce the same order")
  }

  test("perSourceCap: caps every source, keeps rows verbatim, deterministic") {
    val rows = (0 until 300).map(i => (i.toLong, s"src${i % 3}", s"content $i"))
    val df = rows.toDF("id", "source", "text")
    val out = Dedup.perSourceCap(df, "source", "id", "text", cap = 40)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySource = out.groupBy(_._2)
    assert(bySource.keySet === Set("src0", "src1", "src2"))
    bySource.values.foreach(g => assert(g.length === 40))
    assert(out.toSet.subsetOf(rows.toSet), "kept rows must be input rows verbatim")
    // content-hash keyed -> rerun selects the same survivors
    val again = Dedup.perSourceCap(df, "source", "id", "text", cap = 40)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(again.toSet === out.toSet)
  }

  test("twoPassClean == literal nullOutliers-then-imputeMedians composition") {
    // pins the composite to the textbook two-step composition (medians of
    // the nulled data) on data with outliers AND pre-existing nulls
    val base = Gen.listOfN(400, Gen.choose(-50.0, 50.0)).sample.get.map(Option(_))
    val dirty = base ++ Seq(Some(1e9), Some(-1e9), None, None)
    val df = rng.shuffle(dirty).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val composed = graft.clean.Cleaning.imputeMedians(
      graft.clean.Cleaning.nullOutliers(df, Seq("v"))._1, Seq("v"))._1
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fused = graft.clean.Cleaning.twoPassClean(df, Seq("v"))._1
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused === composed)
  }

  test("stableMean4 ignores nulls (avg semantics), not a row-count mean") {
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), None, None).toDF("v")
    val got = df.agg(Analytics.stableMean4($"v")).collect()(0).getDouble(0)
    assert(got === 2.0) // (1+2+3)/3, NOT /5
    // equal to the mean over the pre-filtered non-null frame
    val filtered = Seq(1.0, 2.0, 3.0).toDF("v")
      .agg(Analytics.stableMean4($"v")).collect()(0).getDouble(0)
    assert(got === filtered)
  }
}
