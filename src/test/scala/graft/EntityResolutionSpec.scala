package graft

import org.apache.spark.sql.functions._
import graft.er.EntityResolution

class EntityResolutionSpec extends SparkTestBase {
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("nameMatchPairs: token-blocked levenshtein pairs, name1 < name2, verified once") {
    val df = Seq(
      (1L, "red bolt"), (2L, "old bolt"),   // share "bolt", dist 2
      (3L, "red bolt"),                      // duplicate name: no self-pair
      (4L, "rad bolt"),                      // dist 1 from red, 2 from old
      (5L, "blue gear"),                     // shares nothing
      (6L, "red gear")                       // shares "red"/"gear": dist(red bolt)=4 rejected; dist(blue gear)=4 rejected
    ).toDF("id", "name")
    val got = pairsOf(EntityResolution.nameMatchPairs(df, "name", maxDist = 2))
    assert(got === Set(
      ("old bolt", "red bolt", 2L),
      ("old bolt", "rad bolt", 2L),
      ("rad bolt", "red bolt", 1L)))
    // blocking semantics: a within-distance pair sharing NO token is
    // not a candidate (the standard blocking tradeoff, documented)
    val blocked = Seq((1L, "abc"), (2L, "abd")).toDF("id", "name")
    assert(EntityResolution.nameMatchPairs(blocked, "name", maxDist = 2).count() === 0L)
  }

  test("nameMatchPairs: over-cap tokens drop whole (stop-token guard)") {
    // 30 names all sharing stop-token "the"; only adjacent pairs also
    // share their distinctive token
    val df = (0 until 30).map(i => (i.toLong, s"the name$i")).toDF("id", "name")
    // cap below the "the"-block occupancy: pairs must come only from the
    // nameN tokens (all distinct → no pairs at all)
    assert(EntityResolution.nameMatchPairs(df, "name", maxDist = 2, blockCap = 10)
      .count() === 0L)
    // cap lifted: "the" blocks everything; dist("nameI","nameJ") ≤ 2
    // pairs appear
    assert(EntityResolution.nameMatchPairs(df, "name", maxDist = 2, blockCap = 1000)
      .count() > 0L)
  }

  test("entityGroups: chain connectivity, min-name canonical, singletons self-label, " +
       "row count preserved") {
    val df = Seq(
      (1L, "cold bolt"), (2L, "old bolt"), (3L, "olt bolt"),
      // chain: cold~old (1), old~olt (1); cold~olt dist 2 also matches —
      // but gold gear connects ONLY via the middle link
      (4L, "gold gear"), (5L, "bold gear"),  // dist 2, share "gear"
      (6L, "lonely widget")
    ).toDF("id", "name")
    val out = EntityResolution.entityGroups(df, "id", "name", maxDist = 2)
    assert(out.columns.toSeq === Seq("id", "name", "entity"))
    val m = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) === "cold bolt" && m(2L) === "cold bolt" && m(3L) === "cold bolt",
      "bolt chain must collapse to the min name")
    assert(m(4L) === "bold gear" && m(5L) === "bold gear")
    assert(m(6L) === "lonely widget", "unmatched names label as themselves")
    assert(out.count() === df.count())
  }

  test("entityGroups labels TRANSITIVE matches one entity even when the ends " +
       "exceed maxDist") {
    // aaaa~aaab (1), aaab~aabb (1), but aaaa~aabb = 2 > 1: connectivity,
    // not pairwise distance, defines the entity
    val df = Seq((1L, "x aaaa"), (2L, "x aaab"), (3L, "x aabb")).toDF("id", "name")
    val m = EntityResolution.entityGroups(df, "id", "name", maxDist = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m.values.toSet === Set("x aaaa"))
  }

  test("entitySurvivors: canonical-spelling rows keep, variants carry the " +
       "redirect, singletons and null names keep themselves") {
    val df = Seq(
      (1L, "cold bolt"), (2L, "old bolt"),   // component: min = "cold bolt"
      (3L, "cold bolt"),                     // same spelling: also keeps
      (4L, "lonely widget"),                 // singleton
      (5L, null)                             // null name
    ).toDF("id", "name")
    val out = EntityResolution.entitySurvivors(df, "id", "name", maxDist = 2)
    assert(out.columns.toSeq === Seq("id", "name", "entity", "keep"))
    val m = out.collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(2)), r.getBoolean(3)))).toMap
    assert(m(1L) === ((Some("cold bolt"), true)))
    assert(m(2L) === ((Some("cold bolt"), false)), "variant row is a redirect")
    assert(m(3L) === ((Some("cold bolt"), true)),
      "every row carrying the canonical spelling survives")
    assert(m(4L) === ((Some("lonely widget"), true)))
    assert(m(5L) === ((None, true)), "null-name rows keep themselves, no label")
    // exactly the er2 labels plus the keep rule — never a different grouping
    val groups = EntityResolution.entityGroups(df, "id", "name", maxDist = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(m.view.mapValues(_._1).toMap === groups)
  }

  test("entityGroups canonical label uses UTF-8 BYTE order, not JVM UTF-16 order " +
       "(supplementary-plane names)") {
    // U+1F600 (😀) is a surrogate pair D83D DE00 in UTF-16, so the JVM
    // String order puts "q 😀" BELOW "q " (D83D < E000) — but the
    // blocking join, sort_array, and the DuckDB oracle's min() all order
    // UTF-8 bytes, where U+1F600 > U+E000. The union-find's root choice
    // must agree with the byte order or the label diverges from the oracle.
    val hi = "q 😀"  // q + U+1F600
    val lo = "q "        // q + U+E000 — the UTF-8 minimum
    assert(hi < lo, "precondition: JVM UTF-16 order disagrees with UTF-8 here")
    val df = Seq((1L, hi), (2L, lo)).toDF("id", "name")
    val m = EntityResolution.entityGroups(df, "id", "name", maxDist = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) === lo && m(2L) === lo,
      "component label must be the UTF-8-byte minimum name")
  }

  test("levenshteinLocal replicates Spark's levenshtein expression exactly " +
       "(randomized parity)") {
    val rnd = new scala.util.Random(99)
    val alpha = "abcde f"
    val samples = (0 until 200).map { _ =>
      def s() = (0 until rnd.nextInt(12)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (s(), s())
    }
    val df = samples.toDF("a", "b")
      .withColumn("d", levenshtein(col("a"), col("b")))
    df.collect().foreach { r =>
      val (a, b, d) = (r.getString(0), r.getString(1), r.getInt(2))
      assert(EntityResolution.levenshteinLocal(a, b) === d,
        s"mismatch on ('$a','$b')")
      // banded threshold test: decision-identical at every cutoff
      (0 to 3).foreach { k =>
        assert(EntityResolution.withinDistance(a, b, k) === (d <= k),
          s"withinDistance mismatch on ('$a','$b') k=$k d=$d")
      }
    }
  }

  test("nameMatchSpanningEdges: verified subset, linear edge count, and IDENTICAL " +
       "entityGroups labels vs a clique-pair closure on a clique-heavy corpus") {
    // 3 well-separated entities × 40 spellings each, spellings mutually
    // within dist ≤ 2 (suffix digits) — each entity is a 40-clique, and
    // the bases are far enough apart that shared suffix tokens cannot
    // bridge them
    val bases = Seq("alpha widget", "bravo gadget", "carol gizmo")
    val df = bases.zipWithIndex.flatMap { case (b, e) =>
      (0 until 40).map(i => ((e * 100 + i).toLong, s"$b v$i"))
    }.toDF("id", "name")
    val clique = EntityResolution.nameMatchPairs(df, "name", maxDist = 2)
    val span = EntityResolution.nameMatchSpanningEdges(df, "name", maxDist = 2)
    val cliquePairs = clique.select("name1", "name2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val spanPairs = span.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(spanPairs.subsetOf(cliquePairs),
      "every spanning edge must be a genuine verified pair")
    assert(cliquePairs.size >= 3 * (40 * 39) / 2)
    // per-BLOCK forests: ≤ members−1 edges per token block, so the union
    // is bounded by members × tokens-per-name (the minhashSpanningEdges
    // O(members·bands) analog) — far under the clique's members²
    assert(spanPairs.size <= 3 * 40 * 3 && spanPairs.nonEmpty)
    assert(spanPairs.size < cliquePairs.size / 4,
      s"the reduction must be real: ${spanPairs.size} vs clique ${cliquePairs.size}")
    // label parity: entityGroups (spanning input) == closure over the
    // clique pairs, replayed via a reference union-find here
    val got = EntityResolution.entityGroups(df, "id", "name", maxDist = 2)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    cliquePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    df.collect().foreach { r =>
      assert(got(r.getString(1)) === find(r.getString(1)),
        s"label mismatch for '${r.getString(1)}'")
    }
  }

  test("incrementalEntityMatches: best standing match by (dist, name), batch names " +
       "never match each other, unmatched rows self-label") {
    val standing = Seq((0L, "red bolt"), (1L, "blue gear")).toDF("sid", "name")
    val batch = Seq(
      (10L, "rad bolt"),     // dist 1 to "red bolt"
      (11L, "rod bolt"),     // dist 1 to "red bolt"; dist 1 to batch-mate
                             // "rad bolt" — which must NOT be a target
      (12L, "green widget")  // nothing in standing
    ).toDF("id", "name")
    val out = EntityResolution.incrementalEntityMatches(
      batch, standing, "id", "name", maxDist = 2)
    assert(out.columns.toSeq === Seq("id", "name", "entity", "matched"))
    val m = out.collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(m(10L) === ("red bolt", true))
    assert(m(11L) === ("red bolt", true))
    assert(m(12L) === ("green widget", false))
  }

  test("incrementalEntityMatches: equal-distance ties break to the " +
       "lexicographically smaller standing name (total order)") {
    val standing = Seq((0L, "ab x"), (1L, "aa x")).toDF("sid", "name")
    val batch = Seq((10L, "ac x")).toDF("id", "name") // dist 1 to both
    val m = EntityResolution.incrementalEntityMatches(
      batch, standing, "id", "name", maxDist = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(10L) === "aa x")
  }

  test("incrementalEntityMatches: the occupancy cap counts the STANDING side " +
       "and drops stop-token blocks whole") {
    val standing = (0 until 30).map(i => (i.toLong, s"the s$i")).toDF("sid", "name")
    // batch name shares ONLY the stop-token "the" with standing
    val batch = Seq((100L, "the q999")).toDF("id", "name")
    val capped = EntityResolution.incrementalEntityMatches(
      batch, standing, "id", "name", maxDist = 3, blockCap = 10)
      .collect().map(r => (r.getString(2), r.getBoolean(3)))
    assert(capped.toSeq === Seq(("the q999", false)))
    // cap lifted: "the" blocks, and some "sN" is within dist 3 of "q999"
    val open = EntityResolution.incrementalEntityMatches(
      batch, standing, "id", "name", maxDist = 3, blockCap = 1000)
      .collect().map(_.getBoolean(3))
    assert(open.toSeq === Seq(true))
  }

  test("NameIndex: builds once, warm ensure never evaluates the standing corpus, " +
       "and the indexed path equals the inline path") {
    import graft.er.NameIndex
    val dir = "/root/testdata/sf0.001"
    val part = spark.read.parquet(s"$dir/part.parquet")
    val standing = part.filter(pmod(col("p_partkey"), lit(10)) =!= 0)
    val batch = part.filter(pmod(col("p_partkey"), lit(10)) === 0)
    NameIndex.drop(dir, "part", "spec")
    val idx1 = NameIndex.ensure(spark, dir, "part", "spec", standing, "p_name")
    val success = new java.io.File(
      committedLeaf(NameIndex.root(dir, "part", "spec"), "pairs"), "_SUCCESS")
    assert(success.isFile)
    val stamp = success.lastModified
    val idx2 = NameIndex.ensure(spark, dir, "part", "spec",
      { fail("warm ensure must not evaluate the standing corpus"); standing }, "p_name")
    assert(success.lastModified === stamp, "reuse must not rewrite the index")
    // the persisted frame IS the inline derivation
    val inlineToks = EntityResolution
      .standingTokenBlocks(standing, "p_name", EntityResolution.defaultBlockCap)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(idx2.collect().map(r => (r.getString(0), r.getString(1))).toSet === inlineToks)
    // indexed conformance == inline conformance (the er3/er4 contract)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getBoolean(3))).toSet
    assert(rows(EntityResolution.incrementalEntityMatchesIndexed(
        batch, idx2, "p_partkey", "p_name", maxDist = 2)) ===
      rows(EntityResolution.incrementalEntityMatches(
        batch, standing, "p_partkey", "p_name", maxDist = 2)))
    NameIndex.drop(dir, "part", "spec")
  }

  test("NameIndex.append: new names fold with EXACT cap parity vs a rebuild " +
       "(incl. a token crossing the cap only across the epoch seam); " +
       "replayed names no-op; no base fails loudly") {
    import graft.er.NameIndex
    val dir = "/root/testdata/sf0.001"
    val standing = Seq("alpha zz one", "beta zz two", "gamma qq")
      .toDF("p_name")
    // "beta zz two" is a re-sent standing name (must anti-join away);
    // zz then counts 2 standing + 2 genuinely new = 4 > cap 3 — a
    // crossing only the MERGED universe sees
    val batch = Seq("delta zz three", "epsi zz four", "zeta qq link",
      "beta zz two").toDF("p_name")
    NameIndex.drop(dir, "part", "apnd", 3)
    NameIndex.drop(dir, "part", "apnd2", 3)
    val ex = intercept[IllegalArgumentException] {
      NameIndex.append(spark, dir, "part", "apnd", batch, "p_name", 3)
    }
    assert(ex.getMessage.contains("ensure"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val idx0 = NameIndex.ensure(spark, dir, "part", "apnd", standing, "p_name", 3)
    assert(pairs(idx0).exists(_._2 == "zz"),
      "pre-merge, zz (2 names) must be under the cap")
    val appended = NameIndex.append(spark, dir, "part", "apnd", batch, "p_name", 3)
    val rebuilt = NameIndex.ensure(spark, dir, "part", "apnd2",
      standing.unionByName(batch), "p_name", 3)
    assert(pairs(appended) === pairs(rebuilt),
      "append must equal the cold rebuild over standing ∪ batch exactly")
    assert(!pairs(appended).exists(_._2 == "zz"),
      "a token crossing the cap at the seam must drop from the appended index")
    assert(pairs(appended).exists(_._2 == "qq"))
    // replay: names are the identity, so a re-sent batch adds nothing
    assert(pairs(NameIndex.append(spark, dir, "part", "apnd", batch,
      "p_name", 3)) === pairs(rebuilt))
    NameIndex.drop(dir, "part", "apnd", 3)
    NameIndex.drop(dir, "part", "apnd2", 3)
  }

  test("null names survive with a null entity (never fabricate a label)") {
    val df = Seq((1L, "red bolt"), (2L, null)).toDF("id", "name")
    val out = EntityResolution.entityGroups(df, "id", "name", maxDist = 2).collect()
    assert(out.length === 2)
    val nullRow = out.find(_.getLong(0) == 2L).get
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
  }
}
