package graft

import org.apache.spark.sql.functions._
import graft.text.Text

class TextSpec extends SparkTestBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq(0).toDF("x").select(c).collect()(0)

  test("tokens: empty/whitespace docs tokenize to [] (ADVICE r2 fix)") {
    val df = Seq("", "   ", " a  b ", "a\tb\nc").toDF("t")
    val counts = df.select(Text.tokenCount($"t")).collect().map(_.getInt(0)).toSeq
    assert(counts === Seq(0, 0, 2, 3))
  }

  test("avgTokenLen / stopwordRatio / typeTokenRatio null-safe on empty docs") {
    val df = Seq("", "the cat the mat").toDF("t")
    val r = df.select(
      Text.avgTokenLen($"t").as("atl"),
      Text.stopwordRatio($"t", Seq("the")).as("sr"),
      Text.typeTokenRatio($"t").as("ttr")).collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1) && r(0).isNullAt(2))
    assert(r(1).getDouble(0) === 3.0) // the,cat,the,mat -> 12 chars / 4
    assert(r(1).getDouble(1) === 0.5)
    assert(r(1).getDouble(2) === 0.75) // {the, cat, mat} / 4
  }

  test("punctRatio counts punctuation over non-whitespace chars") {
    val r = one(Text.punctRatio(lit("a, b!")))
    assert(r.getDouble(0) === 2.0 / 4) // ',' '!' over "a,b!"
  }

  test("subwordCount splits punctuation into separate tokens") {
    val df = Seq(("ab, cd!ef", 5), ("hello", 1), ("", 0)).toDF("t", "want")
    df.collect() // force
    val got = df.select(Text.subwordCount($"t"), $"want").collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("langId: marker voting with lexicographic tie-break and 'und' fallback") {
    val df = Seq(
      "the cat is a hat",        // en
      "der hund ist nicht das",  // de
      "xyzzy qwerty",            // no markers -> und
      "the der"                  // 1-1 tie -> de (lex first)
    ).toDF("t")
    assert(df.select(Text.langId($"t")).collect().map(_.getString(0)).toSeq ===
      Seq("en", "de", "und", "de"))
  }

  test("wordShingles: n-grams, deduplicated, short docs -> []") {
    val r = one(Text.wordShingles(lit("a b c d"), 3))
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(one(Text.wordShingles(lit("a b"), 3)).getSeq[String](0) === Seq.empty)
    // duplicate shingles collapse
    assert(one(Text.wordShingles(lit("x x x x"), 2)).getSeq[String](0) === Seq("x x"))
  }

  test("charShingles windows characters") {
    assert(one(Text.charShingles(lit("abcd"), 2)).getSeq[String](0) ===
      Seq("ab", "bc", "cd"))
    assert(one(Text.charShingles(lit("a"), 2)).getSeq[String](0) === Seq.empty)
  }

  test("fingerprint: equal docs collide, is deterministic") {
    val df = Seq("one two three four five six", "one two three four five six",
      "completely different words here now ok").toDF("t")
    val fps = df.select(Text.fingerprint($"t")).collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("qualityScore in [0,1]; diverse prose beats repeated junk") {
    val df = Seq(
      "the quick brown fox jumps over a lazy dog near the riverbank today",
      "spam spam spam spam spam spam spam spam !!!! !!!! !!!!").toDF("t")
    val q = df.select(Text.qualityScore($"t")).collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(1))
  }

  test("winnowFingerprints: deterministic; shared long substring -> shared fingerprint") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val shifted = "PREFIX padding words here " + base   // contains base as substring
    val unrelated = "completely different content with no overlap whatsoever at all ok"
    val df = Seq((1L, base), (2L, shifted), (3L, unrelated), (4L, base)).toDF("id", "t")
    val fps = df.select($"id", Text.winnowFingerprints($"t").as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) === fps(4L))                      // deterministic
    assert((fps(1L) intersect fps(2L)).nonEmpty)     // winnowing guarantee
    val overlapNear = (fps(1L) intersect fps(2L)).size.toDouble / fps(1L).size
    val overlapFar = (fps(1L) intersect fps(3L)).size.toDouble / fps(1L).size
    assert(overlapNear > overlapFar)
    // short doc -> empty fingerprint set, no crash
    assert(Seq("ab").toDF("t").select(Text.winnowFingerprints($"t"))
      .collect()(0).getSeq[Long](0).isEmpty)
  }

  test("vocabulary: top-k tokens with deterministic tie-break") {
    val df = Seq("a b a", "b a c").toDF("t")
    val v = Text.vocabulary(df, "t", topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(v.toSeq === Seq(("a", 3L), ("b", 2L)))
  }

  test("tfidfTopTerms: corpus-common terms score below doc-specific terms") {
    val df = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2"),
      (3L, "common other")).toDF("doc_id", "t")
    val top = Text.tfidfTopTerms(df, "doc_id", "t", k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) === "rare1")  // unique term beats the everywhere-term
    assert(top(2L) === "rare2")
  }

  test("tfidfTopTermsHeap emits exactly tfidfTopTerms' rows (shared total order)") {
    // the ×100 formulation ladder (ScaleProbe) is only meaningful if the
    // two formulations are row-identical — pin it on a corpus with score
    // ties (same tf, same df → token asc breaks the tie)
    val df = Seq(
      (1L, "alpha beta alpha gamma tie1 tie2"),
      (2L, "beta beta delta epsilon tie1 tie2"),
      (3L, "gamma delta zeta eta theta")).toDF("doc_id", "t")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(Text.tfidfTopTermsHeap(df, "doc_id", "t", k = 3)) ===
           rows(Text.tfidfTopTerms(df, "doc_id", "t", k = 3)))
  }

  test("repetitionStats: loop spam scores near 1, varied prose near 1/n_ngrams") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now buy now"), // pure loop
      (2L, "one two three four five six seven eight nine ten"), // all distinct
      (3L, "ab")).toDF("doc_id", "t")                           // < n tokens -> no row
    val out = Text.repetitionStats(docs, "doc_id", "t", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("top_ngram_count"), r.getAs[Double]("rep_ratio"))).toMap
    // doc 1: 12 tokens -> 10 3-grams; 'buy now buy'x5 or 'now buy now'x5 tops
    assert(out(1L)._1 === 10L && out(1L)._2 === 5L && out(1L)._3 === 0.5)
    assert(out(2L)._1 === 8L && out(2L)._2 === 1L && out(2L)._3 === 0.125)
    assert(!out.contains(3L))
    // wordNgrams keeps duplicates; wordShingles dedups
    val grams = docs.filter($"doc_id" === 1L)
      .select(Text.wordNgrams($"t", 3), Text.wordShingles($"t", 3)).collect()(0)
    assert(grams.getSeq[String](0).length === 10)
    assert(grams.getSeq[String](1).length === 2)
  }

  test("crossDocShingles: shared spans counted across docs, unique prose scores 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares 5-gram prefix with 2
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"),     // unique
      (4L, "tiny doc")).toDF("doc_id", "t")          // < n tokens -> no row
    val out = Text.crossDocShingles(docs, "doc_id", "t", n = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_shared"),
         r.getAs[Double]("shared_ratio"))).toMap
    // docs 1/2: 6 tokens -> 2 distinct 5-grams each; exactly the leading
    // "alpha beta gamma delta epsilon" shingle is cross-doc
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((3L, 0L, 0.0)))
    assert(!out.contains(4L))
  }

  test("dsirWeights: target-like docs score positive, target-unlike negative") {
    val docs = Seq(
      (1L, "apple banana", "tgt"),
      (2L, "apple banana", "web"),   // same mix as the target -> same weight
      (3L, "car dog", "web"),        // target-unseen tokens -> negative
      (4L, "", "web")                // zero tokens -> dropped
    ).toDF("doc_id", "t", "source")
    val out = Text.dsirWeights(docs, "doc_id", "t", $"source" === "tgt")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("dsir_weight"))).toMap
    // corpus: apple 2, banana 2, car 1, dog 1 (ns=6, v=4); target: apple 1,
    // banana 1 (nt=2). lr(apple)=ln(2/6)-ln(3/10) > 0; lr(car)=ln(1/6)-ln(2/10) < 0
    assert(out(1L)._2 === out(2L)._2)
    assert(out(1L)._2 > 0 && out(3L)._2 < 0)
    assert(out(1L)._1 === 2L && out(3L)._1 === 2L)
    assert(!out.contains(4L))
  }

  test("dsirResample: deterministic Gumbel top-k; duplicate texts share keys; k bound") {
    val docs = (1L to 30L).map(i =>
      (i, if (i <= 3) "shared duplicate text body here"
          else s"unique document number $i with its own words",
       if (i % 2 == 0) "tgt" else "web")).toDF("doc_id", "t", "source")
    val top = Text.dsirResample(docs, "doc_id", "t", $"source" === "tgt", k = 10)
      .collect()
    assert(top.length === 10)
    val again = Text.dsirResample(docs, "doc_id", "t", $"source" === "tgt", k = 10)
      .collect()
    assert(top.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq) // reshuffle-stable
    // duplicate texts: identical weight AND identical gumbel key (content-
    // keyed noise), so they are kept or dropped together up to the id
    // tie-break
    val all = Text.dsirResample(docs, "doc_id", "t", $"source" === "tgt", k = 30)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("dsir_weight"), r.getAs[Double]("gumbel_key"))).toMap
    assert(all(1L) === all(2L) && all(2L) === all(3L))
  }

  test("dsirWeights: model path equals the relational twin bit-for-bit, " +
       "and an over-budget vocabulary dispatches to it") {
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 5) "shared corpus phrase apple banana"
          else s"unique doc $i with words w$i x${i % 7} apple",
       if (i % 3 == 0) "tgt" else "web")).toDF("doc_id", "t", "source")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val fast = rows(Text.dsirWeights(docs, "doc_id", "t", $"source" === "tgt"))
    val joined = rows(Text.dsirWeightsJoined(docs, "doc_id", "t", $"source" === "tgt"))
    assert(fast === joined)           // bit-for-bit, doubles included
    // a 3-token budget cannot hold this vocabulary: the fast path must
    // return the twin's frame, not a truncated model's
    assert(rows(Text.dsirWeights(docs, "doc_id", "t", $"source" === "tgt",
      maxVocab = 3)) === joined)
  }

  test("dsirWeightsHashed: target-like bigram mixes score positive, unlike " +
       "negative; duplicate texts share weights; sub-bigram docs dropped") {
    val docs = Seq(
      (1L, "quick brown fox jumps", "tgt"),
      (2L, "quick brown fox jumps", "web"),  // same text -> same weight
      (3L, "metal spoon under water", "web"),// target-unseen bigrams -> negative
      (4L, "single", "web"),                 // 1 token: no bigram -> dropped
      (5L, "", "web")                        // empty -> dropped
    ).toDF("doc_id", "t", "source")
    val out = Text.dsirWeightsHashed(docs, "doc_id", "t", $"source" === "tgt",
      buckets = 4096)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Double]("dsir_weight"))).toMap
    assert(out(1L) === out(2L))
    assert(out(1L)._2 > 0 && out(3L)._2 < 0)
    assert(out(1L)._1 === 3L && out(3L)._1 === 3L)
    assert(!out.contains(4L) && !out.contains(5L))
    // deterministic: a second invocation reproduces every bit
    val again = Text.dsirWeightsHashed(docs, "doc_id", "t", $"source" === "tgt",
      buckets = 4096)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Double]("dsir_weight"))).toMap
    assert(again === out)
    // the model is bucket-bounded by construction, never vocab-sized:
    // a 1-bucket space pools EVERY bigram, so all docs share one lr and
    // every surviving doc gets the identical weight
    val pooled = Text.dsirWeightsHashed(docs, "doc_id", "t", $"source" === "tgt",
      buckets = 1)
      .collect().map(_.getAs[Double]("dsir_weight")).distinct
    assert(pooled.length === 1)
    intercept[IllegalArgumentException] {
      Text.dsirWeightsHashed(docs, "doc_id", "t", $"source" === "tgt", buckets = 0)
    }
  }

  test("dsirResample: joined fallback keeps the exact fast-path top-k") {
    val docs = (1L to 30L).map(i =>
      (i, s"resample doc $i token t${i % 11} t${i % 5}",
       if (i % 2 == 0) "tgt" else "web")).toDF("doc_id", "t", "source")
    val fast = Text.dsirResample(docs, "doc_id", "t", $"source" === "tgt", k = 8)
      .collect().map(_.toSeq).toSeq
    // a 3-token budget forces the joined branch, which attaches the
    // content-hash uniform by id instead of riding the scoring scan —
    // the kept rows, order included, must not move
    val joined = Text.dsirResample(docs, "doc_id", "t", $"source" === "tgt",
      k = 8, maxVocab = 3).collect().map(_.toSeq).toSeq
    assert(fast === joined)
  }

  test("decontaminate: word-boundary hits counted and replaced, substrings untouched") {
    val df = Seq(
      (1L, "leak the benchmark answer here"),
      (2L, "benchmarking is not a benchmark hit"), // 'benchmarking' must NOT match
      (3L, "clean document")).toDF("id", "t")
    val out = Text.decontaminate(df, "t", Seq("benchmark", "answer"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_hits"), r.getAs[String]("clean_text"))).toMap
    assert(out(1L)._1 === 2L)
    assert(out(1L)._2 === "leak the [REDACTED] [REDACTED] here")
    assert(out(2L)._1 === 1L)
    assert(out(2L)._2 === "benchmarking is not a [REDACTED] hit")
    assert(out(3L) === ((0L, "clean document")))
  }

  test("chunkPlan: running offsets partition per shard; chunk boundary at contextLen") {
    val df = Seq(
      ("s1", 1L, "a b c"),        // 3 tokens, offset 0, chunk 0
      ("s1", 2L, "d e"),          // offset 3, chunk 0
      ("s1", 3L, "f g h i"),      // offset 5, chunk 1 (contextLen=5)
      ("s2", 9L, "x y z")).toDF("source", "doc_id", "t") // fresh shard: offset 0
    val out = Text.chunkPlan(df, "source", "doc_id", "t", contextLen = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("start_offset"), r.getAs[Long]("chunk_id"))).toMap
    assert(out(("s1", 1L)) === ((3L, 0L, 0L)))
    assert(out(("s1", 2L)) === ((2L, 3L, 0L)))
    assert(out(("s1", 3L)) === ((4L, 5L, 1L)))
    assert(out(("s2", 9L)) === ((3L, 0L, 0L))) // shards pack independently
  }

  test("bloomDecontaminate: benchmark overlap flagged, disjoint docs clean, short docs zero-gram") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains bench 5-gram
      (2L, "one two three four five six seven"),     // disjoint vocabulary
      (3L, "tiny doc")).toDF("doc_id", "text")        // < 5 tokens: no shingles
    val bench = Seq((99L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = Text.bloomDecontaminate(corpus, "doc_id", "text", bench, "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L)._3, "doc sharing a benchmark 5-gram must be contaminated")
    assert(out(1L)._2 >= 1L)
    assert(out(3L) === ((0L, 0L, false)))             // no shingles -> clean
    // doc 2 is clean modulo bloom FP; at fpp=0.001 over 3 shingles a hit
    // is ~0.3% — accept either but its flagged count must stay below doc 1's
    assert(out(2L)._2 <= out(1L)._2)
  }

  test("bloomDecontaminate: null benchmark text and empty benchmark are clean no-ops") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    // null text shingles to null; the map-side sketch build must skip it
    // (the old explode build dropped such rows) — not NPE
    val benchWithNull = Seq((8L, Option("unrelated words here today now ok")),
      (9L, None: Option[String])).toDF("doc_id", "text")
    val out = Text.bloomDecontaminate(corpus, "doc_id", "text", benchWithNull, "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(1L) === false)
    // empty benchmark -> empty filter -> every doc clean
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out2 = Text.bloomDecontaminate(corpus, "doc_id", "text", empty, "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out2(1L) === false)
  }

  test("unigramLogProb: common-token docs outscore rare-token docs; counts match") {
    val df = Seq(
      (1L, "the the the the"),          // only common tokens
      (2L, "the zzz"),                  // one rare token
      (3L, "zzz2 zzz3 zzz4")).toDF("doc_id", "text") // all singletons
    val out = Text.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 4L && out(2L)._1 === 2L && out(3L)._1 === 3L)
    // 'the' has corpus prob 5/9; singletons 1/9 — doc 1 must score highest,
    // doc 3 (all singletons) lowest
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2)
    assert(math.abs(out(1L)._2 - math.log(5.0 / 9.0)) < 1e-4)
    assert(math.abs(out(3L)._2 - math.log(1.0 / 9.0)) < 1e-4)
  }

  test("unigramLogProb: model path equals the relational twin bit-for-bit") {
    // the registered t17 streams docs past a driver-built model (native
    // decimal-exact expression); the joined form is the executable
    // specification — any drift in the decimal quantization, the log
    // expression, or the zero-token drop shows up here as a value diff
    // on real data (the sf0.001 documents), not just on toy rows
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Text.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = Text.unigramLogProbJoined(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a === b)
    // zero-token docs are dropped by BOTH forms (the group never exists)
    val withEmpty = Seq((1L, "a b"), (2L, "   ")).toDF("doc_id", "text")
    assert(Text.unigramLogProb(withEmpty, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
    assert(Text.unigramLogProbJoined(withEmpty, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("chunkPlanOverlap: full token coverage, fixed overlap, tail reaches last token") {
    val df = Seq(
      (1L, (1 to 30).map(i => s"w$i").mkString(" ")),  // 30 tokens: 3 chunks at W=16,S=12
      (2L, (1 to 16).map(i => s"w$i").mkString(" ")),  // exactly W: 1 chunk
      (3L, (1 to 17).map(i => s"w$i").mkString(" ")),  // W+1: 2 chunks
      (4L, "")).toDF("doc_id", "text")                 // empty: one (0,0) chunk
    val out = Text.chunkPlanOverlap(df, "doc_id", "text", chunkTokens = 16, stride = 12)
      .collect().groupBy(_.getLong(0))
    def spans(id: Long) = out(id).sortBy(_.getLong(2))
      .map(r => (r.getLong(3), r.getLong(4)))
    assert(spans(1L) === Seq((0L, 16L), (12L, 28L), (24L, 30L)))
    assert(spans(2L) === Seq((0L, 16L)))
    assert(spans(3L) === Seq((0L, 16L), (12L, 17L)))
    assert(spans(4L) === Seq((0L, 0L)))
    // coverage property: every token index of doc 1 falls in >= 1 span;
    // consecutive non-tail spans overlap by exactly W - S = 4
    val s1 = spans(1L)
    assert((0 until 30).forall(i => s1.exists { case (a, b) => i >= a && i < b }))
    s1.sliding(2).foreach {
      case Array((_, e0), (a1, _)) => assert(e0 - a1 === 4L)
      case _ => ()
    }
  }

  test("piiScrub: counts per category on the original text; sequential redaction") {
    val df = Seq(
      (1L, "mail a@b.org and c.d+x@e.co.uk, call 555-123-4567, host 10.0.0.1"),
      (2L, "no pii here at all"),
      (3L, "ip 192.168.255.3 twice 192.168.255.3")).toDF("id", "t")
    val out = Text.piiScrub(df, "id", "t").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") === 2L)
    assert(out(1L).getAs[Long]("n_phones") === 1L)
    assert(out(1L).getAs[Long]("n_ips") === 1L)
    assert(out(1L).getAs[String]("clean_text") ===
      "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IP>")
    assert(out(2L).getAs[Long]("n_emails") === 0L)
    assert(out(2L).getAs[String]("clean_text") === "no pii here at all")
    assert(out(3L).getAs[Long]("n_ips") === 2L)
    assert(out(3L).getAs[String]("clean_text") === "ip <IP> twice <IP>")
  }

  test("c4LineFilter: word minimum, terminal punctuation, braces, boilerplate markers") {
    val doc =
      "This is a real sentence with enough words in it.\n" + // kept
      "too short.\n" +                                        // < 5 words
      "this long line has many words but no terminal punctuation\n" +
      "Please enable JavaScript and accept our Cookie policy today ok.\n" + // marker
      "function f() { return 1; }\n" +                        // braces
      "A second real sentence also survives the filter!"      // kept (ends !)
    val out = Text.c4LineFilter(Seq((7L, doc)).toDF("id", "t"), "id", "t").collect()(0)
    assert(out.getAs[Long]("n_lines") === 6L)
    assert(out.getAs[Long]("n_kept") === 2L)
    assert(out.getAs[String]("clean_text") ===
      "This is a real sentence with enough words in it.\n" +
      "A second real sentence also survives the filter!")
  }

  test("domainCensus: extraction, no-match docs, query strings stripped") {
    val df = Seq(
      (1L, "read https://a.org/x and http://b.net/y?z=1 now"),
      (2L, "no links here"),
      (3L, "dup https://a.org/other")).toDF("id", "t")
    val census = Text.domainCensus(df, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census === Map("a.org" -> 2L, "b.net" -> 1L))
  }

  test("sequencePack: contiguous per-shard stream, correct sequence spans") {
    val df = Seq(
      (0L, "a b c"),                                     // shard 0: 3 tokens
      (8L, (1 to 70).map(i => s"t$i").mkString(" ")),    // shard 0: 70 tokens
      (16L, "x y"),                                      // shard 0: 2 tokens
      (1L, "p q r s")                                    // shard 1: own stream
    ).toDF("doc_id", "text")
    val out = Text.sequencePack(df, "doc_id", "text", seqLen = 64, nShards = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("start_pos") === 0L)
    assert(out(8L).getAs[Long]("start_pos") === 3L)
    // doc 8 occupies stream positions 3..72: crosses the seq 0/1 cut at 64
    assert(out(8L).getAs[Long]("seq_first") === 0L)
    assert(out(8L).getAs[Long]("seq_last") === 1L)
    assert(out(8L).getAs[Long]("n_seqs") === 2L)
    assert(out(16L).getAs[Long]("start_pos") === 73L)
    assert(out(16L).getAs[Long]("seq_first") === 1L)
    // shards are independent streams
    assert(out(1L).getAs[Long]("start_pos") === 0L)
  }

  test("dupSpanStats: union coverage of duplicated windows via island merge") {
    // A 10-token run planted in two docs produces 8-token windows at 3
    // consecutive starts; the island step must merge them into ONE span
    // of length (maxStart - minStart) + 8 = 10, not 3 x 8 = 24.
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val d1 = s"$shared u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    val d2 = s"v1 v2 v3 $shared w1 w2 w3 w4 w5"
    val d3 = "z1 z2 z3 z4 z5 z6 z7 z8 z9"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Text.dupSpanStats(df, "doc_id", "text", w = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) === ((20L, 3L, 10L, 0.5)))
    assert(out(2L) === ((18L, 3L, 10L, 0.5556)))
    assert(out(3L) === ((9L, 0L, 0L, 0.0))) // shorter than w: zero windows
  }

  test("bigramLogProb: conditions on the previous token; sub-bigram docs dropped") {
    val df = Seq(
      (1L, "a b a b a b a b"), // repeated common bigrams
      (2L, "c d e f g h i j"), // every bigram a singleton
      (3L, "x"),               // 1 token: no bigram positions -> dropped
      (4L, "")                 // 0 tokens -> dropped
    ).toDF("doc_id", "text")
    val out = Text.bigramLogProb(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L)._1 === 7L && out(2L)._1 === 7L)
    // the bigram model must reward the document whose transitions recur
    assert(out(1L)._2 > out(2L)._2)
  }

  test("bigramLogProb: model path equals the relational twin bit-for-bit, " +
       "and the over-budget fallback dispatches to it") {
    // the registered t23 streams docs past a driver-built nested bigram
    // model (native decimal-exact expression); the joined form is the
    // executable specification — parity on real data, like t17's gate
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val fast = rows(Text.bigramLogProb(docs, "doc_id", "text"))
    val joined = rows(Text.bigramLogProbJoined(docs, "doc_id", "text"))
    assert(fast === joined)
    // a model budget smaller than the observed-bigram universe must
    // dispatch to the relational twin (never truncate the model)
    assert(rows(Text.bigramLogProb(docs, "doc_id", "text", maxModel = 3)) === joined)
  }

  test("spaceSavingSketch: upper-bound estimates and no-miss under eviction + merges") {
    // Zipf-ish stream with far more distinct keys than capacity, spread
    // over 8 partitions so partial buffers evict AND merge-prune runs.
    // Invariants under test (the ones heavyHitters leans on):
    //   (1) est >= true count for every tracked item;
    //   (2) every item with true count > n/capacity is present.
    val rnd = new scala.util.Random(11)
    val n = 20000
    val stream = (1 to n).map { _ =>
      // skewed head (20 hot keys) + long uniform tail (~4000 keys)
      if (rnd.nextInt(100) < 40) s"hot${rnd.nextInt(20)}"
      else s"tail${rnd.nextInt(4000)}"
    }
    val capacity = 256
    val df = stream.toDF("item").repartition(8)
    val sk = df.agg(org.apache.spark.sql.graft.SketchFunctions
        .spaceSavingSketch(col("item"), capacity).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.item").as("item"), col("c.est").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.size <= capacity)
    val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    sk.foreach { case (item, est) =>
      assert(est >= exact(item), s"$item: est $est < true ${exact(item)}")
    }
    val mustKeep = exact.filter { case (_, c) => c > n.toLong / capacity }
    val missed = mustKeep.keySet -- sk.keySet
    assert(missed.isEmpty, s"guaranteed heavy hitters missing from sketch: $missed")
  }

  test("heavyHitters == exact group-count filter, with eviction pressure") {
    val rnd = new scala.util.Random(23)
    val n = 30000
    val stream = (1 to n).map { _ =>
      if (rnd.nextInt(100) < 30) s"hot${rnd.nextInt(15)}"
      else s"tail${rnd.nextInt(6000)}"
    }
    val df = stream.toDF("item").repartition(8)
    // phiInverse 500 -> threshold ceil(30000/500) = 60; capacity 1024 is
    // well under the ~6015 distinct keys, so the sketch truly evicts
    val got = Text.heavyHitters(df, col("item"), phiInverse = 500L, capacity = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val threshold = (n - 1) / 500 + 1
    val want = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter { case (_, c) => c >= threshold }
    assert(got === want)
  }

  test("heavyHitters: empty input yields empty result") {
    val df = Seq.empty[String].toDF("item")
    assert(Text.heavyHitters(df, col("item"), 500L, 1024).count() === 0)
  }

  test("c4LineFilter: single-line and empty documents") {
    val df = Seq((1L, "One good sentence with several words here."),
                 (2L, "")).toDF("id", "t")
    val out = Text.c4LineFilter(df, "id", "t").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_kept") === 1L)
    assert(out(2L).getAs[Long]("n_kept") === 0L)
    assert(out(2L).getAs[String]("clean_text") === "")
  }
}
