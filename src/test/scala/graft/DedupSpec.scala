package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),       // near dup of 1
    (4L, "completely unrelated text about spark catalyst optimizer internals"),
    (5L, "")                                                    // degenerate
  ).toDF("id", "text")

  test("exactDedup keeps the lowest id per identical text") {
    val kept = Dedup.exactDedup(docs, "id", "text").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L, 5L))
  }

  test("exactDupStats census") {
    val r = Dedup.exactDupStats(docs, "text").collect()(0)
    assert(r.getLong(0) === 5L && r.getLong(1) === 4L && r.getLong(2) === 1L)
  }

  test("minhash signature: identical docs identical, length k, empty-doc guard") {
    val sig = Dedup.minhashSignature(graft.text.Text.wordShingles($"text", 2), 16)
    val sigs = docs.select($"id", sig.as("s")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L).length === 16)
    assert(sigs(5L).forall(_ === Long.MaxValue))
  }

  test("minhashNearDups surfaces exact and near duplicates above threshold") {
    val pairs = Dedup.minhashNearDups(docs, "id", "text", threshold = 0.5,
      shingleSize = 2, bands = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical: jaccard 1.0, all bands collide
  }

  test("simhash: identical -> distance 0; hamming is symmetric and sane") {
    val sigs = docs.select($"id", Dedup.simhash($"text").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    val d13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val d14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(d13 < d14) // near-dup closer than unrelated
  }

  test("simhashNearDups finds the exact pair via chunk blocking") {
    val pairs = Dedup.simhashNearDups(docs, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramJaccard: 1.0 identical, 0 disjoint, null when both empty") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    val r = df.select(Dedup.ngramJaccard($"x", $"y")).collect()
    assert(r(0).getDouble(0) === 1.0)
    assert(r(1).getDouble(0) === 0.0)
    assert(r(2).isNullAt(0))
  }

  test("embeddingNearDups: parallel vectors pair up, orthogonal don't") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f)),   // same direction as 1
      (3L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("e2 split pipeline (srpCandidatePairs → cosineForPairs) == embeddingNearDups") {
    // deterministic pseudo-random directions so buckets are non-trivial
    val emb = (0L until 40L).map { i =>
      (i, Seq.tabulate(8)(j => math.sin(i * 31 + j * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val inline = Dedup.embeddingNearDups(emb, "vec_id", "embedding", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val split = Dedup.cosineForPairs(emb,
        Dedup.srpCandidatePairs(emb, "vec_id", "embedding"), "vec_id", "embedding")
      .filter($"cos" >= 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(split === inline)
    assert(inline.nonEmpty) // the gate is vacuous on an empty pair set
  }

  test("dupClusters: min-label propagation finds connected components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 9L), (3L, 7L))
      .toDF("id1", "id2")
    val labels = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,3,7,9} all label 1 (3-7 bridges); {4,5} label 4
    assert(Seq(1L, 2L, 3L, 7L, 9L).forall(labels(_) === 1L))
    assert(labels(4L) === 4L && labels(5L) === 4L)
  }

  test("dropDupClusterMembers keeps one representative per cluster + singletons") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val kept = Dedup.dropDupClusterMembers(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L)) // 2,3 dropped; 4,5 unpaired stay
  }

  test("incrementalCandidatePairs: strictly new-vs-corpus, corpus dups never pair") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),  // corpus-internal dup
      (3L, "completely unrelated text about catalyst internals")).toDF("id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of 1 and 2
      (11L, "eleven totally novel words that match nothing else at all")).toDF("id", "text")
    val pairs = Dedup.incrementalCandidatePairs(fresh, corpus, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 1L), (10L, 2L))) // no (1,2), nothing for 11
    // verify stage composes: both surviving pairs are exact dups -> 1.0
    val verified = Dedup.jaccardForPairs(corpus.union(fresh),
        Dedup.incrementalCandidatePairs(fresh, corpus, "id", "text"), "id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.values.forall(_ === 1.0))
  }

  test("bucket-occupancy cap: hot buckets drop from the candidate join, " +
    "observed metric counts the capped rows, indexed probe stays in parity") {
    // 200 copies of one text → every band bucket of that content has
    // occupancy 200 > cap; a 2-doc cluster stays under it. The guard must
    // drop the boilerplate pairs, keep the small-cluster pair, report the
    // dropped rows through the CollectMetrics observation, and the
    // persisted-index path (bsize scan filter) must produce the identical
    // candidate set.
    val hotText = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = ((1L to 200L).map(i => (i, hotText)) :+
      (900L, "completely different sentence about distributed query engines ok"))
      .toDF("id", "text")
    val fresh = Seq(
      (1000L, hotText), // hot content: every band lands in a capped bucket
      (1001L, "completely different sentence about distributed query engines ok"))
      .toDF("id", "text")
    val inline = Dedup.incrementalCandidatePairs(fresh, corpus, "id", "text")
    val got = inline.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1001L, 900L)), "hot-bucket pairs must be capped away")
    val observed = inline.queryExecution.observedMetrics(Dedup.bucketCapObservation)
    assert(observed.getAs[Long]("capped_bucket_rows") === 200L * 8,
      "every (band, bucket) row of the hot content must be counted as capped")
    // cap disabled → the 200 hot pairs come back
    val uncapped = Dedup.incrementalCandidatePairs(fresh, corpus, "id", "text",
        bucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 201 && uncapped.contains((1000L, 37L)))
    // indexed parity under the same default cap
    val dir = "/root/testdata/sf0.001"
    graft.dedup.LshIndex.drop(dir, subset = "capspec")
    val idx = graft.dedup.LshIndex.ensure(spark, dir, corpus,
      idCol = "id", textCol = "text", subset = "capspec")
    val indexed = Dedup.incrementalCandidatePairsIndexed(idx, fresh, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed === got)
    graft.dedup.LshIndex.drop(dir, subset = "capspec")
  }

  test("simhash chunk-bucket cap: duplicate-heavy content drops, near-dups survive") {
    // 150 copies of one text: identical fingerprints put all 150 in every
    // chunk bucket (occupancy 150 > cap 64) — without the cap that is
    // 150·149/2 pairs ×4 chunks, the quadratic blowup the ×100 probe
    // measured at 332×. A distinct near-dup pair (one word changed)
    // stays under the cap and must still be found.
    val hot = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = ((1L to 150L).map(i => (i, hot)) ++
      Seq((500L, near), (501L, near))) // 2-doc cluster: occupancy 2 << cap
      .toDF("id", "text")
    val capped = Dedup.simhashNearDups(docs, "id", "text", maxHamming = 8)
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists(p => p._1 <= 150L && p._2 <= 150L),
      "hot-content pairs must be capped away")
    assert(got.contains((500L, 501L)), "cold near-dup pair must survive the cap")
    // maxHamming 8 → 9 pigeonhole chunks (derived, not the fixed 4×16)
    val observed = capped.queryExecution.observedMetrics("graft_simhash_bucket_cap")
    assert(observed.getAs[Long]("capped_bucket_rows") === 150L * 9,
      "every chunk row of the hot content must be counted as capped")
    // cap disabled → the hot pairs come back
    val uncapped = Dedup.simhashNearDups(docs, "id", "text", maxHamming = 8,
        bucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((500L, 501L)))
  }

  test("hammingChunks: pigeonhole tracks the bound (fixed 4x16 would lose pairs)") {
    // two signatures differing in exactly 4 bits, one per 16-bit
    // quadrant: under the old fixed 4-chunk layout they share NO chunk
    // (the silent-loss case for maxHamming = 4); with the derived
    // maxHamming+1 = 5 chunks at least one 12/13-bit range is untouched
    val a = 0L
    val b = (1L << 5) | (1L << 21) | (1L << 37) | (1L << 53)
    def chunkSet(sig: Long, maxHamming: Int): Set[(Int, Long)] =
      Seq(sig).toDF("s")
        .select(explode(Dedup.hammingChunks(col("s"), maxHamming)).as("c"))
        .select("c.chunk", "c.ckey")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert((chunkSet(a, 3) intersect chunkSet(b, 3)).isEmpty,
      "16-bit quadrants each contain one flip — no shared chunk at 4 chunks")
    assert((chunkSet(a, 4) intersect chunkSet(b, 4)).nonEmpty,
      "5 derived chunks must leave one range untouched for hamming 4")
    // operator level: the pair must surface at maxHamming = 4
    // (simhashNearDups on crafted text is impractical; the chunk layer
    // is the mechanism under test and both operators share it)
  }

  test("incremental exact dedup: known content dies, novel survives; " +
    "HashLedger probe == inline; ensure reuses the build") {
    val corpus = Seq((1L, "alpha bravo common text"), (2L, "charlie delta other text"))
      .toDF("id", "text")
    val fresh = Seq(
      (10L, "alpha bravo common text"),  // exact content already in the corpus
      (11L, "echo foxtrot novel text"))  // genuinely new
      .toDF("id", "text")
    val inline = Dedup.incrementalExactNew(fresh, corpus, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(inline.map(_._1).toSeq === Seq(11L))
    assert(inline.head._2.length === 32) // md5 hex address published
    val dir = "/root/testdata/sf0.001"
    graft.dedup.HashLedger.drop(dir, subset = "exactspec")
    val ledger = graft.dedup.HashLedger.ensure(spark, dir, corpus,
      idCol = "id", textCol = "text", subset = "exactspec")
    val indexed = Dedup.incrementalExactNewIndexed(ledger, fresh, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(indexed.toSeq === inline.toSeq)
    // reuse: a second ensure must read back, not rebuild (poisoned thunk)
    val again = graft.dedup.HashLedger.ensure(spark, dir,
      { throw new IllegalStateException("rebuilt instead of reused") },
      subset = "exactspec")
    assert(again.groups === ledger.groups && again.idCol === "id" && again.textCol === "text")
    graft.dedup.HashLedger.drop(dir, subset = "exactspec")
  }

  test("LshIndex: indexed probe == inline candidates; second ensure reuses the build") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val fresh = docs.filter(pmod($"doc_id", lit(10)) === 0)
    graft.dedup.LshIndex.drop(dir, subset = "spec")
    val idx = graft.dedup.LshIndex.ensure(spark, dir, corpus, subset = "spec")
    val indexed = Dedup.incrementalCandidatePairsIndexed(idx, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Dedup.incrementalCandidatePairs(fresh, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed === inline)
    // reuse: a second ensure must read back, not rebuild — corpus is
    // by-name and a rebuild would re-evaluate it; poison the thunk
    val again = graft.dedup.LshIndex.ensure(spark, dir,
      { throw new IllegalStateException("rebuilt instead of reused") },
      subset = "spec")
    assert(again.groups === idx.groups && again.bands === idx.bands)
    graft.dedup.LshIndex.drop(dir, subset = "spec")
  }

  test("fuzzySurvivors labels unique vs canonical and agrees with dropDupClusterMembers") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val got = Dedup.fuzzySurvivors(docs, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "canonical", 4L -> "unique", 5L -> "unique"))
    val kept = Dedup.dropDupClusterMembers(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.keySet === kept) // same keep-set, two formulations
  }

  test("LSH banding and simhash blocking exclude unsigned degenerate docs") {
    val short = Seq((1L, "one two"), (2L, "three four"), (3L, ""), (4L, "   "))
      .toDF("id", "text")
    // < shingleSize words -> no shingles -> no buckets (would otherwise
    // all collide into one degenerate bucket per band)
    assert(Dedup.lshBuckets(short, "id", "text", shingleSize = 3).count() === 0)
    // token-less docs must not pair at hamming 0
    assert(Dedup.simhashNearDups(short, "id", "text", maxHamming = 3)
      .filter($"id1" === 3L || $"id2" === 3L || $"id1" === 4L || $"id2" === 4L)
      .count() === 0)
  }

  test("dupClusters converges on a long chain (pointer jumping)") {
    // path 0-1-2-...-25: diameter 25 >> 10 plain-propagation hops.
    // maxDriverEdges = 0 forces the DISTRIBUTED loop — the path a
    // 100 TB pair set takes — on the worst-diameter shape.
    val chain = (0L until 25L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.dupClusters(chain, maxIter = 10, maxDriverEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet === Set(0L))
  }

  test("dupClusters: driver union-find and distributed loop label identically") {
    // mixed shape: a chain (diameter), a triangle with a cross edge,
    // isolated pair, duplicate + reversed edges — the driver path
    // (default budget) and the distributed path (budget 0) must agree
    // exactly, label for label
    // (50,50) reflexive: no connectivity, but node 50 must still be
    // labeled by BOTH paths (the driver path's <= filter keeps it)
    val pairs = (
      (0L until 12L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (22L, 25L),
          (30L, 31L), (31L, 30L), (20L, 21L), (40L, 41L), (50L, 50L))
    ).toDF("id1", "id2")
    val driver = Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = Dedup.dupClusters(pairs, maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(driver === dist)
    assert(driver.nonEmpty)
    // spot semantics: min id labels its whole component
    val m = driver.toMap
    assert((0L to 12L).forall(m(_) == 0L))
    assert(Seq(20L, 21L, 22L, 25L).forall(m(_) == 20L))
    assert(m(50L) === 50L) // reflexive-only node labeled, both paths
  }

  test("perSourceCap: at most N per source, deterministic hash order, stable across reshuffles") {
    val docs = (0 until 60).map(i => (i.toLong, s"document body $i", s"s${i % 3}"))
      .toDF("id", "text", "source")
    val capped = Dedup.perSourceCap(docs, "source", "id", "text", cap = 7)
    val bySource = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource === Map("s0" -> 7L, "s1" -> 7L, "s2" -> 7L))
    // determinism: the kept ID SET is identical under a different physical layout
    val ids1 = capped.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Dedup.perSourceCap(docs.repartition(7), "source", "id", "text", cap = 7)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // under-cap sources keep everything
    val tiny = Seq((1L, "a doc", "s")).toDF("id", "text", "source")
    assert(Dedup.perSourceCap(tiny, "source", "id", "text", cap = 5).count() === 1)
  }

  test("interleaveOrder: round-robin positions, globally unique, source-balanced prefix") {
    val docs = (0 until 90).map(i => (i.toLong, s"doc body $i", s"s${i % 3}"))
      .toDF("id", "text", "source")
    val idx = org.apache.spark.sql.functions.substring(
      org.apache.spark.sql.functions.col("source"), 2, 4).cast("int")
    val out = Dedup.interleaveOrder(docs, "source", "id", "text",
        nSources = 3, sourceIndex = idx)
      .select("pos", "source").collect()
    assert(out.map(_.getLong(0)).toSet.size === 90) // positions globally unique
    // every window of 3 consecutive positions holds all 3 sources
    val first30 = out.sortBy(_.getLong(0)).take(30).map(_.getString(1))
    first30.grouped(3).foreach(g => assert(g.toSet === Set("s0", "s1", "s2")))
  }

  test("epochShuffle: deterministic per seed, seed re-permutes, shard positions contiguous") {
    val corpus = (0 until 80).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
    val e1 = Dedup.epochShuffle(corpus, "id", seed = 7, nShards = 4)
      .select("id", "shard", "pos").collect()
    val e1b = Dedup.epochShuffle(corpus, "id", seed = 7, nShards = 4)
      .select("id", "shard", "pos").collect()
    // same seed -> bit-identical order (rerun-stable epoch)
    assert(e1.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1) ===
           e1b.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1))
    // shards are the id round-robin; positions contiguous 1..shardSize
    e1.groupBy(_.getInt(1)).foreach { case (shard, rows) =>
      assert(rows.forall(r => (r.getLong(0) % 4).toInt == shard))
      assert(rows.map(_.getLong(2)).sorted === (1L to rows.length).toArray)
    }
    // a different seed re-permutes: some doc must change position
    val e2 = Dedup.epochShuffle(corpus, "id", seed = 8, nShards = 4)
      .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val moved = e1.count(r => e2(r.getLong(0)) != r.getLong(2))
    assert(moved > 40, s"seed change should re-permute most docs, moved only $moved/80")
    // and the intra-shard order is not the id order (it actually shuffles)
    val shard0 = e1.filter(_.getInt(1) == 0).sortBy(_.getLong(2)).map(_.getLong(0))
    assert(shard0 !== shard0.sorted)
  }

  test("curationFunnel: gates on quality+language, dedups, summarizes yield") {
    val corpus = Seq(
      (1L, "the cat is on the mat and it sits with a hat near the flat door today fine", "s1"),
      (2L, "the cat is on the mat and it sits with a hat near the flat door today fine", "s2"), // dup of 1
      (3L, "der hund ist nicht das haus und der baum", "s1"),  // german -> gated out
      (4L, "x x x x x x x x x x x x x x x x", "s2")            // low diversity -> low quality
    ).toDF("id", "text", "source")
    val out = Dedup.curationFunnel(corpus, "id", "text", "source",
      minQuality = 0.4, lang = "en")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("s1" -> 1L)) // only doc 1 survives (2 deduped, 3 lang, 4 quality)
  }

  test("hashSplit: content-keyed, duplicate-consistent, percentages roughly honored") {
    val docs = (0 until 400).map(i => (i.toLong, s"document body number $i")).toDF("id", "text")
    val split = Dedup.hashSplit(docs, "text")
    val byId = split.collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    // deterministic: same content -> same split, independent of row identity
    val dup = Seq((999L, "document body number 7")).toDF("id", "text")
    assert(Dedup.hashSplit(dup, "text").collect()(0).getAs[String]("split") === byId(7L))
    // all three splits populated, train dominates (80/10/10 over 400 docs)
    val counts = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet === Set("train", "validation", "test"))
    assert(counts("train") > counts("validation") && counts("train") > counts("test"))
    assert(counts("train") > 400 * 6 / 10) // loose bound, not a flake magnet
  }

  test("weightedSourceSample: per-source fractions honored, content-consistent, default keeps all") {
    val docs = (0 until 300).map(i =>
      (i.toLong, s"doc body $i", s"src${i % 3}")).toDF("id", "text", "source")
    val mixed = Dedup.weightedSourceSample(docs, "source", "text",
      Map("src0" -> 0.5, "src1" -> 0.0))
    val bySrc = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src1"))            // fraction 0 -> dropped entirely
    assert(bySrc("src2") === 100L)             // default 1.0 -> all kept
    assert(bySrc("src0") > 20L && bySrc("src0") < 80L) // ~50%, hash-determined
    // deterministic: same call -> identical kept set
    val again = Dedup.weightedSourceSample(docs, "source", "text",
      Map("src0" -> 0.5, "src1" -> 0.0)).select("id").collect().map(_.getLong(0)).toSet
    assert(again === mixed.select("id").collect().map(_.getLong(0)).toSet)
  }

  // ---- spanning-forest reduction of the closure input (round 16) ----

  /** Clique-heavy embedding corpus: 3 groups of 30 tiny perturbations of
    * a shared base vector (mutual cos ≈ 1 — each group is a near-dup
    * clique at τ = 0.8) plus 30 independent singleton vectors.
    */
  private lazy val cliqueVecs: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(1234)
    def unit(): Array[Double] = {
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val groups = (0 until 3).flatMap { g =>
      val base = unit()
      (0 until 30).map { m =>
        val v = base.map(x => x + rnd.nextGaussian() * 1e-3)
        ((g * 1000 + m).toLong, v.toSeq)
      }
    }
    val singles = (0 until 30).map(i => ((9000 + i).toLong, unit().toSeq))
    (groups ++ singles).toDF("id", "vec")
  }

  test("srpSpanningEdges: subset of verified clique pairs, linear edge count, " +
       "identical closure labels and survivors") {
    val clique = Dedup.embeddingNearDups(cliqueVecs, "id", "vec", threshold = 0.8)
    val span = Dedup.srpSpanningEdges(cliqueVecs, "id", "vec", threshold = 0.8)
    val cliquePairs = clique.select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val spanPairs = span.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every spanning edge is a genuine verified pair (dump replayability)
    assert(spanPairs.subsetOf(cliquePairs))
    // clique grows ~k² per dup group; the forest stays under one edge per member
    assert(cliquePairs.size >= 3 * (30 * 29) / 2)
    assert(spanPairs.size <= 90 && spanPairs.nonEmpty)
    // closure parity: identical labels...
    val lc = Dedup.dupClusters(clique.select(col("id1"), col("id2")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ls = Dedup.dupClusters(span)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lc === ls)
    // ...and the identical survivor answer sheet (the e3 contract)
    val sc = Dedup.fuzzySurvivors(cliqueVecs, "id", clique.select(col("id1"), col("id2")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val ss = Dedup.fuzzySurvivors(cliqueVecs, "id", span)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sc === ss)
  }

  test("srpSpanningEdges preserves within-bucket CHAIN connectivity " +
       "(A~B, B~C, A≁C must still cluster together when the clique form does)") {
    // near-parallel trio at graded angles: adjacent pairs above τ, the
    // ends below — the case a naive star-to-bucket-min candidate set
    // gets wrong (the star edges fail verification; the chain is lost)
    val chain = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.9, math.sqrt(1 - 0.81), 0.0, 0.0)),          // cos(1,2)=0.9
      (3L, Seq(0.62, math.sqrt(1 - 0.62 * 0.62), 0.0, 0.0)),  // cos(1,3)=0.62+
      (4L, Seq(0.0, 0.0, 1.0, 0.0))
    ).toDF("id", "vec")
    val clique = Dedup.embeddingNearDups(chain, "id", "vec", threshold = 0.8, nPlanes = 4)
      .select(col("id1"), col("id2"))
    val span = Dedup.srpSpanningEdges(chain, "id", "vec", threshold = 0.8, nPlanes = 4)
    val lc = Dedup.dupClusters(clique).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ls = Dedup.dupClusters(span).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lc === ls)
  }

  test("minhashSpanningEdges: verified subset, label + survivor parity with the " +
       "clique form on a duplicate-heavy corpus") {
    val rnd = new scala.util.Random(7)
    def sentence(tag: String): String =
      s"the $tag pipeline shuffles partitions across executors while catalyst " +
      s"prunes columns and pushes filters down to the $tag parquet scan"
    val dups = (0 until 25).map(i => (100L + i, sentence("alpha"))) ++
               (0 until 25).map(i => (200L + i, sentence("beta"))) ++
               (0 until 20).map { i =>
                 (300L + i, (0 until 12).map(_ => s"w${rnd.nextInt(5000)}").mkString(" "))
               }
    val docs = dups.toDF("id", "text")
    val clique = Dedup.minhashNearDups(docs, "id", "text", threshold = 0.8)
    val span = Dedup.minhashSpanningEdges(docs, "id", "text", threshold = 0.8)
    val cliquePairs = clique.select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val spanPairs = span.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spanPairs.subsetOf(cliquePairs))
    assert(cliquePairs.size >= 2 * (25 * 24) / 2)   // two 25-cliques at least
    assert(spanPairs.size < cliquePairs.size / 4)   // the reduction is real
    val lc = Dedup.dupClusters(clique.select(col("id1"), col("id2")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ls = Dedup.dupClusters(span)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lc === ls)
    val sc = Dedup.fuzzySurvivors(docs, "id", clique.select(col("id1"), col("id2")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val ss = Dedup.fuzzySurvivors(docs, "id", span)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sc === ss)
  }

  test("shingleHashes: per-element xxhash64 (seed 42), hashed-set Jaccard " +
       "equals string-set Jaccard on collision-free input") {
    // the exchanged representation minhashSpanningEdges narrows to: each
    // element must hash exactly like Spark's own xxhash64 (same seed),
    // so the expression is pinned against the engine builtin, not a
    // private constant that could drift
    val arrs = Seq(
      (1L, Seq("the quick brown", "quick brown fox", "brown fox jumps")),
      (2L, Seq("the quick brown", "fox jumps over")),
      (3L, Seq.empty[String]))
      .toDF("id", "sh")
    val got = arrs.select($"id",
        org.apache.spark.sql.graft.HashFunctions.shingleHashes($"sh").as("hh"),
        transform($"sh", s => xxhash64(s)).as("want"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"shingleHashes drifted from xxhash64 for id ${r.getLong(0)}")
    }
    // Jaccard parity: |a∩b|/|a∪b| over the hashed sets == over the
    // string sets (these grams are collision-free under xxhash64)
    val a = got(0).getSeq[Long](1).toSet; val b = got(1).getSeq[Long](1).toSet
    val sa = Set("the quick brown", "quick brown fox", "brown fox jumps")
    val sb = Set("the quick brown", "fox jumps over")
    assert(a.intersect(b).size === sa.intersect(sb).size)
    assert(a.union(b).size === sa.union(sb).size)

    // the fused single-pass form (what minhashSpanningEdges ships) must
    // be BIT-IDENTICAL to the standalone pair, empty input included
    val fused = arrs.select($"id",
        org.apache.spark.sql.graft.HashFunctions
          .lshBandsAndHashes($"sh", 8, 4).as("bh"),
        org.apache.spark.sql.graft.HashFunctions
          .lshBandBuckets($"sh", 8, 4).as("bands"),
        org.apache.spark.sql.graft.HashFunctions.shingleHashes($"sh").as("hh"))
      .collect()
    fused.foreach { r =>
      val bh = r.getStruct(1)
      assert(bh.getSeq[Long](0) === r.getSeq[Long](2),
        s"fused bands drifted for id ${r.getLong(0)}")
      assert(bh.getSeq[Long](1) === r.getSeq[Long](3),
        s"fused hashes drifted for id ${r.getLong(0)}")
    }
  }

  test("shingleHashes / lshBandsAndHashes skip null elements, interpreted and codegen") {
    import org.apache.spark.sql.graft.HashFunctions
    // row 0 holds a null between the grams of row 3; row 1 is all-null
    val lists = Seq(Seq("x y", null, "z w"), Seq(null), Seq.empty[String], Seq("x y", "z w"))
    val sh = element_at(typedLit(lists), col("id").cast("int") + 1)
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      // no whole-stage codegen, so the projection is built by the factory
      // the mode selects; spark.range keeps the input non-foldable
      val confs = Map("spark.sql.codegen.factoryMode" -> mode,
                      "spark.sql.codegen.wholeStage" -> "false")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val got = try {
        spark.range(lists.length).select(col("id"),
            HashFunctions.shingleHashes(sh).as("hh"),
            HashFunctions.lshBandsAndHashes(sh, 8, 4).as("bh"),
            HashFunctions.lshBandBuckets(sh, 8, 4).as("bands"),
            transform(filter(sh, _.isNotNull), xxhash64(_)).as("want"))
          .orderBy(col("id")).collect()
      } finally confs.keys.foreach(spark.conf.unset)
      got.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](4), s"$mode: hashes keep only non-null elements")
        assert(r.getStruct(2).getSeq[Long](1) === r.getSeq[Long](1), s"$mode: fused hashes")
        assert(r.getStruct(2).getSeq[Long](0) === r.getSeq[Long](3), s"$mode: fused bands")
      }
      assert(got(1).getSeq[Long](1).isEmpty, s"$mode: an all-null set hashes to []")
      assert(got(0).getSeq[Long](3) === got(3).getSeq[Long](3),
        s"$mode: a null element does not move the bands")
    }
  }

  test("HashLedger append + compact: membership answers unchanged, fewer files") {
    import graft.dedup.HashLedger
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(pmod($"doc_id", lit(10)).isin(1, 2, 3, 4, 5, 6, 7))
    val day1 = docs.filter(pmod($"doc_id", lit(10)) === 8)
    val probe = docs.filter(pmod($"doc_id", lit(10)).isin(0, 8)) // old + day1 + novel mix
    val sub = "compactspec"
    HashLedger.drop(dir, subset = sub)
    val h0 = HashLedger.ensure(spark, dir, corpus, subset = sub)
    // day-1 ingest: novel addresses appended through the daily seam
    val novel1 = Dedup.incrementalExactNewIndexed(h0, day1, "doc_id", "text")
    val h1 = HashLedger.append(spark, dir, novel1.select("content_md5"), subset = sub)
    // ground truth: membership against corpus ∪ day1
    def expected = Dedup.incrementalExactNew(probe, corpus.union(day1), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = expected
    val afterAppend = Dedup.incrementalExactNewIndexed(h1, probe, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterAppend === want)
    def dataFiles(f: java.io.File): Int = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))
      walk(f).count(_.getName.endsWith(".parquet"))
    }
    val ledgerDir = HashLedger.root(dir, sub)
    val before = dataFiles(ledgerDir)
    val hc = HashLedger.compact(spark, dir, subset = sub)
    val after = dataFiles(ledgerDir)
    assert(after < before, s"compact must fold files: $before -> $after")
    assert(after <= hc.groups, "one file per group after compaction")
    val afterCompact = Dedup.incrementalExactNewIndexed(hc, probe, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterCompact === want)
    HashLedger.drop(dir, subset = sub)
  }

  test("LshIndex append + compact: probe parity with the inline path over the " +
       "grown corpus; compact folds files and re-derives exact occupancy") {
    import graft.dedup.LshIndex
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(pmod($"doc_id", lit(10)).isin(1, 2, 3, 4, 5, 6, 7))
    val day1 = docs.filter(pmod($"doc_id", lit(10)) === 8)
    val fresh = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val sub = "compactspec"
    LshIndex.drop(dir, subset = sub)
    LshIndex.ensure(spark, dir, corpus, subset = sub)
    val h1 = LshIndex.append(spark, dir, day1, subset = sub)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = pairs(Dedup.incrementalCandidatePairs(fresh, corpus.union(day1),
      "doc_id", "text"))
    assert(pairs(Dedup.incrementalCandidatePairsIndexed(h1, fresh, "doc_id", "text"))
      === inline, "appended index must equal the inline path over the grown corpus")
    def dataFiles(f: java.io.File): Int = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) walk(c) else Seq(c))
      walk(f).count(_.getName.endsWith(".parquet"))
    }
    val indexDir = LshIndex.root(dir, 3, 8, 4, sub)
    val before = dataFiles(indexDir)
    val hc = LshIndex.compact(spark, dir, subset = sub)
    val after = dataFiles(indexDir)
    assert(after < before, s"compact must fold files: $before -> $after")
    assert(pairs(Dedup.incrementalCandidatePairsIndexed(hc, fresh, "doc_id", "text"))
      === inline, "compacted index must equal the inline path")
    // occupancy re-derived exactly: bsize == count over (band, bucket)
    val bad = hc.buckets
      .withColumn("__true", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("bsize") =!= col("__true")).count()
    assert(bad === 0L, "compact must leave every bsize equal to the true occupancy")
    LshIndex.drop(dir, subset = sub)
  }

  test("minhashSpanningEdges honors the bucket occupancy cap like the clique form") {
    // 200 EXACT copies: every band bucket holds all 200 > cap 64, so both
    // generators drop the bucket whole and emit nothing
    val docs = (0 until 200).map(i =>
      (i.toLong, "same boilerplate text repeated across every copy of the page"))
      .toDF("id", "text")
    assert(Dedup.minhashSpanningEdges(docs, "id", "text", threshold = 0.8).count() === 0L)
    assert(Dedup.minhashCandidatePairs(docs, "id", "text").count() === 0L)
    // cap lifted -> the clique returns; the forest stays linear
    val un = Dedup.minhashSpanningEdges(docs, "id", "text", threshold = 0.8, bucketCap = 0)
    assert(un.count() === 199L)  // one spanning tree over the 200-clique
  }

  test("spanning edges carry non-numeric ids losslessly (no long cast — ADVICE r16)") {
    // ids a long cast silently nulls: zero-padded and alphanumeric
    // strings. These are legal inputs to the clique-form APIs the
    // spanning variants are documented drop-in replacements for.
    val vecs = Seq(
      ("doc-007",  Seq(1.0, 0.0, 0.0, 0.0)),
      ("doc-0070", Seq(1.0, 1e-4, 0.0, 0.0)),   // cos ≈ 1 with doc-007
      ("doc-far",  Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("id", "vec")
    val span = Dedup.srpSpanningEdges(vecs, "id", "vec", threshold = 0.9, nPlanes = 4)
    assert(span.schema("id1").dataType === org.apache.spark.sql.types.StringType)
    assert(span.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("doc-007", "doc-0070")))

    val docs = Seq(
      ("a-01", "spark shuffles partitions across executors while catalyst prunes columns"),
      ("a-02", "spark shuffles partitions across executors while catalyst prunes columns"),
      ("z-99", "completely different words entirely unrelated to anything else present")
    ).toDF("id", "text")
    val mspan = Dedup.minhashSpanningEdges(docs, "id", "text", threshold = 0.8)
    assert(mspan.schema("id1").dataType === org.apache.spark.sql.types.StringType)
    assert(mspan.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("a-01", "a-02")))
  }
}
