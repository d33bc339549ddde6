package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extension over the reference — repo BASELINE.json): token
  * counting, quality scoring, language-ID heuristic, shingling and document
  * fingerprinting. Everything is a built-in Column expression (split /
  * higher-order array functions / xxhash64), so the per-document work is
  * embarrassingly parallel, codegen'd, and needs no shuffle at all — the
  * right shape for a 100 TB corpus where the scan dominates.
  */
object Text {

  /** Whitespace tokenizer. Empty tokens are filtered so an empty or
    * all-whitespace document tokenizes to [] (Spark `split("")` would give
    * [""], making tokenCount 1 and defeating the empty-doc guards below —
    * ADVICE r2). DuckDB twin:
    * `list_filter(string_split_regex(t, '\s+'), x -> len(x) > 0)`.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword segmentation proxy: split on word boundaries AND
    * punctuation, keeping punctuation marks as their own tokens — the token
    * count a byte-pair tokenizer would be proportional to. Pure regex.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[\\s]+|(?=[\\p{Punct}])|(?<=[\\p{Punct}])"),
      t => length(t) > 0))

  /** Mean token length in characters. Null-safe for empty docs. */
  def avgTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(null)).otherwise(
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
  }

  /** Fraction of tokens that are stopwords (quality signal: natural prose
    * has 0.2-0.5; keyword spam and code have ~0). Counting is the native
    * CountInSet expression (hash-set probe per token in a codegen loop).
    */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(null)).otherwise(
      org.apache.spark.sql.graft.HashFunctions.countInSet(t, stopwords)
        .cast("double") / size(t))
  }

  /** Fraction of non-whitespace characters that are punctuation. */
  def punctRatio(text: Column): Column = {
    val nonWs = length(regexp_replace(text, "\\s", ""))
    when(nonWs === 0, lit(null)).otherwise(
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / nonWs)
  }

  /** Type-token ratio: distinct tokens / tokens (repetition detector —
    * boilerplate and generated spam score low).
    */
  def typeTokenRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(null)).otherwise(
      size(array_distinct(t)).cast("double") / size(t))
  }

  /** Composite quality score in [0,1]: length band + lexical diversity +
    * low punctuation noise. Weights are heuristic; the point is the shape —
    * one scan, no shuffle, every signal codegen'd.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    val diversity = coalesce(typeTokenRatio(text), lit(0.0))
    val punctPenalty = lit(1.0) - least(coalesce(punctRatio(text), lit(0.0)) * 5.0, lit(1.0))
    round(lenScore * 0.4 + diversity * 0.4 + punctPenalty * 0.2, 6)
  }

  /** Language-ID: marker-token voting. Each candidate language has a small
    * set of high-frequency marker words; predicted language = argmax marker
    * hits, tie-broken lexicographically, 'und' (undetermined) when nothing
    * matches. An n-gram Naive-Bayes would slot in the same shape (score
    * expression per language → greatest-struct argmax); markers keep it
    * SQL-expressible for the oracle.
    */
  val defaultMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  def langId(text: Column, markers: Map[String, Seq[String]] = defaultMarkers): Column = {
    val t = tokens(text)
    // struct(score desc → negate, lang asc) so array_min = argmax(score) with
    // lexicographic tie-break; deterministic under any partitioning. Marker
    // counting is the native CountInSet loop, one pass per language.
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val score = org.apache.spark.sql.graft.HashFunctions.countInSet(t, words)
      struct((-score).as("neg"), lit(lang).as("lang"), score.as("score"))
    }
    val best = array_min(array(scored: _*))
    when(best.getField("score") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Word n-gram shingles (space-joined), deduplicated — the standard
    * MinHash/Jaccard input. Docs shorter than n shingle to [] not
    * [partial]. Native codegen expression: tokenize + window + dedup in
    * one loop per row (the HOF formulation paid interpreted dispatch per
    * token per shingle and was the last hot interpreted span in the dedup
    * pipeline).
    */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.wordShingles(text, n)

  /** Word n-gram OCCURRENCES (duplicates kept, document order) — the
    * frequency-counting twin of [[wordShingles]] for census-style
    * operators ([[heavyHitters]]).
    */
  def wordShingleOccurrences(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.wordShingles(text, n, distinct = false)

  /** Character n-gram shingles, deduplicated (native loop; windows over
    * Unicode code points, so supplementary characters count as one and
    * surrogate pairs never split).
    */
  def charShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.charShingles(text, n)

  /** Document fingerprint: min-of-k-gram-hashes (a 1-wide MinHash — the
    * rolling-hash winnowing fingerprint's Spark-native analog). Two docs
    * sharing their rarest shingle collide; cheap first-pass near-dup key.
    */
  def fingerprint(text: Column, n: Int = 5): Column = {
    val sh = wordShingles(text, n)
    when(size(sh) === 0, xxhash64(text)).otherwise(
      array_min(transform(sh, s => xxhash64(s))))
  }

  /** Winnowing fingerprints (rolling k-gram hash, window minima — the
    * literal MOSS scheme): any two docs sharing a substring of length
    * ≥ w+k-1 share at least one fingerprint. Native codegen loop;
    * overlap of fingerprint sets = containment estimate for plagiarism /
    * near-dup detection at substring granularity (vs wordShingles'
    * whole-doc Jaccard).
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    org.apache.spark.sql.graft.HashFunctions.winnow(text, k, w)

  /** Positional k-gram rolling hashes — [[winnowFingerprints]]' hashing
    * phase on its own. Dumping these lets an independent engine replay
    * the window-minimum selection over the identical hash sequence (the
    * t7 oracle does exactly that), splitting "hashes agree" (engine-keyed,
    * untestable cross-engine) from "selection agrees" (pure windowed-min
    * relational logic, fully replayable).
    */
  def kgramHashes(text: Column, k: Int = 8): Column =
    org.apache.spark.sql.graft.HashFunctions.kgramHashes(text, k)

  /** Corpus vocabulary: token → document frequency + total occurrences,
    * descending. The generator (explode) runs map-side; ONE shuffle on the
    * token — the canonical vocab-building job for tokenizer training.
    * Top-k via orderBy+limit keeps the final step a partial top-k.
    */
  def vocabulary(df: DataFrame, textCol: String, topK: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("token").asc)
      .limit(topK)

  /** φ-heavy hitters with EXACT published counts via sketch-then-recount:
    * every value of `items` (a pre-exploded string column) occurring at
    * least ⌈n / phiInverse⌉ times (n = total occurrences), without ever
    * shuffling one row per distinct key.
    *
    * Pass 1 runs a SpaceSaving summary ([[org.apache.spark.sql.graft
    * .SpaceSavingSketch]]) as a global two-phase aggregate (the total
    * count rides the same aggregate, so the threshold needs no extra
    * pass): each task ships at most `capacity` (item, est) pairs — at
    * 100 TB the exchange carries O(tasks × capacity) rows where
    * [[vocabulary]]'s groupBy ships one per distinct key (billions for
    * URLs/shingles). Estimates are upper bounds and nothing with true
    * count > n/capacity is missed, so with capacity comfortably above
    * phiInverse (the φ-HH invariant — capacity is sized to the FRACTION,
    * independent of corpus size) filtering the summary at the threshold
    * yields a candidate SUPERSET at every scale; the TextSpec property
    * gate exercises the bound under eviction pressure and partial merges.
    * Pass 2 joins the corpus against the broadcast candidate set and
    * recounts exactly — false positives die, and the published counts
    * are exact, which is what makes the operator oracle-able at all.
    */
  def heavyHitters(df: DataFrame, items: Column, phiInverse: Long = 5000L,
                   capacity: Int = 8192): DataFrame = {
    require(capacity > phiInverse,
      s"heavyHitters needs capacity > phiInverse for the no-miss bound " +
      s"(got capacity=$capacity, phiInverse=$phiInverse)")
    val sk = org.apache.spark.sql.graft.SketchFunctions.spaceSavingSketch _
    val base = df.select(items.as("item"))
    // integer-exact threshold: greatest(1, ceil(n / phiInverse)) in pure
    // integral arithmetic, so the oracle's `//` form can never drift
    val cands = base
      .agg(count(lit(1)).as("n"), sk(col("item"), capacity).as("sk"))
      .selectExpr(s"greatest(1L, ((n - 1) div $phiInverse) + 1) AS threshold", "sk")
      .select(col("threshold"), explode(col("sk")).as("c"))
      .filter(col("c.est") >= col("threshold"))
      .select(col("c.item").as("item"), col("threshold"))
    base.join(broadcast(cands), Seq("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"), max(col("threshold")).as("th"))
      .filter(col("cnt") >= col("th"))
      .select(col("item"), col("cnt"))
  }

  /** Top-k TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).
    * Plan: one explode (map-side) feeding two aggregations — per-doc term
    * frequency and per-token document frequency — joined back on the token
    * (vocab-sized, broadcastable), corpus size as a broadcast 1-row cross
    * join, then a per-doc window for the top k. Deterministic tie-break
    * (score desc, token asc).
    *
    * Why the WINDOW and not the bounded-heap `TopKRows` aggregate (o1/o4,
    * Similarity.rankTopK): the choice is group-cardinality-driven, and
    * this shape sits on the opposite side from those. Here groups are
    * DOCS — at corpus scale that's millions of small groups, far past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128
    * in-flight groups per task), so the ObjectHashAggregate hosting the
    * heap falls back to sort-based aggregation — it re-pays the very sort
    * the heap exists to avoid, PLUS per-group buffer serialization across
    * the shuffle. Measured on the ×100 documents probe (ScaleProbe,
    * 500k docs): window 6.2 s vs heap 10.1 s (heap +64%); at sf0.1 the
    * two tie (~1.0 s, scoring join dominates). Raising the fallback
    * threshold to 2^20 (no sort fallback at all) was re-measured and is
    * WORSE still — window 5.4 s ≤ heap@128 6.0 s < heap@2^20 6.9 s
    * uncontended at ×100 (docs/SCALE_PROBE.md round-13 row): half a
    * million live heap buffers per task is its own memory/GC regime, so
    * the fallback was never the binding cost. The heap wins only when
    * groups are FEW and LARGE (o1: 3 flags over the lineitem fact, 1.29
    * → 0.45 s) — there the window ships and sorts the whole fact table
    * while the heap ships groups×k survivors. With partial
    * `WindowGroupLimit` (rank-limit pushdown) the window's map side
    * already emits only k rows per group before the exchange, so for
    * many-small-groups inputs it IS the bounded-survivor plan.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val scored = tfidfScored(df, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__score").desc, col("token").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("token"), col("tf"), round(col("__score"), 6).as("tfidf"))
  }

  /** Heap formulation of the same top-k (TopKRows per doc group) — same
    * rows as [[tfidfTopTerms]] by the shared (score desc, token asc)
    * total order. Kept NON-default per the group-cardinality rule in the
    * scaladoc above (millions of doc groups blow past the
    * ObjectHashAggregate fallback threshold); [[graft.ScaleProbe]]
    * measures both, plus this one under a raised
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`, at
    * ×100 — the numbers that keep the default honest.
    */
  private[graft] def tfidfTopTermsHeap(df: DataFrame, idCol: String, textCol: String,
                                       k: Int): DataFrame = {
    val scored = tfidfScored(df, idCol, textCol)
    scored.groupBy(col(idCol))
      .agg(org.apache.spark.sql.graft.TopKFunctions
        .topKRows(struct(col("__score"), col("token"), col("tf")), k, Seq(true, false))
        .as("__top"))
      .select(col(idCol), explode(col("__top")).as("__row"))
      .select(col(idCol), col("__row.token").as("token"), col("__row.tf").as("tf"),
              round(col("__row.__score"), 6).as("tfidf"))
  }

  /** The shared TF-IDF scoring pipeline of the two top-k formulations:
    * (doc, token, tf, __score) — explode → tf / df aggregates → scoring
    * join.
    */
  private def tfidfScored(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // document frequency FROM tf (one row per (doc, token) ⇒ row count per
    // token == distinct-doc count). The count is phrased against the tf
    // VALUE (`tf > 0` is true on every row, but the optimizer cannot
    // prove it) because a plain count(1) lets column pruning strip the
    // count function out of this branch's copy of the tf aggregate — the
    // two tf subtrees then stop being canonically equal and each plans
    // its own tokenize/explode (a silent 2× constant; a bare count(tf)
    // doesn't help either: RewriteNonNullableCount folds it back to
    // count(1)). With the reference pinned, the executed plan reuses the
    // (doc, token) exchange and the corpus tokenizes ONCE (ledger-pinned).
    // The single-pass window alternative (count() over
    // Window.partitionBy(token)) stays rejected: it ships every
    // (doc, token) row of a hot token into one partition, a skew trap at
    // corpus scale, and windows get no AQE skew splitting.
    val dfreq = tf.groupBy("token")
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("__score", col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)))
      .select(col(idCol), col("token"), col("tf"), col("__score"))
  }

  /** Cross-document duplicated-span score (the C4 / "Deduplicating
    * Training Data" signal at shingle granularity): for each document,
    * the fraction of its distinct word n-gram shingles that also occur
    * in at least `minDocs - 1` OTHER documents. Exact-duplicate and
    * near-duplicate docs score ~1.0; boilerplate-heavy docs score the
    * boilerplate fraction; clean unique prose scores 0. Complements
    * [[repetitionStats]] (WITHIN-doc repetition) — this is the
    * ACROSS-doc signal a span-level corpus dedup would act on.
    *
    * Plan shape (the corpus-wide-stat → join-back → per-doc-score
    * template): one map-side shingle explode feeding (a) the hot-shingle
    * aggregate — shuffle on the shingle, map-side partial count, AQE
    * splits skewed boilerplate shingles — and (b) a join of the exploded
    * shingles against that hot set, then a per-doc rollup whose group
    * size is bounded by shingles-per-doc. Nothing is quadratic: the only
    * per-corpus structure is the hot-shingle table. At 100 TB the join
    * keys would be xxhash64(shingle) to keep the shuffle narrow (and the
    * hot set becomes a broadcast Bloom prefilter like t18's); the raw
    * string key is kept here so an independent engine can replay the
    * exact pipeline (the DuckDB oracle shingles with the d5/d13 recipe).
    *
    * Docs with fewer than n tokens have no shingles and are absent from
    * the output (explode of an empty array), matching the oracle's
    * unnest semantics.
    */
  def crossDocShingles(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, minDocs: Int = 2): DataFrame = {
    val ex = df.select(col(idCol), explode(wordShingles(col(textCol), n)).as("s"))
    val hot = ex.groupBy(col("s"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("s"), lit(1).as("__hot"))
    ex.join(hot, Seq("s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast("double") / col("n_shingles"), 4))
  }

  /** Word n-grams WITH duplicates (repetition-analysis input — the
    * duplicate count is the signal; [[wordShingles]] is the deduplicated
    * MinHash input).
    */
  def wordNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.wordShingles(text, n, distinct = false)

  /** Gopher-style repetition stats: the fraction of a document's n-grams
    * taken by its single most-repeated n-gram — boilerplate, keyword spam
    * and generation loops score high; natural prose stays near 1/n_ngrams.
    * One map-side explode, one shuffle on (doc, gram), then a tiny
    * per-doc rollup; the published ratio uses the engine-stable scaled
    * round (ratio of identical integers on both engines).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val grams = df.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("gram"))
    grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(idCol)
      .agg(sum(col("cnt")).as("n_ngrams"),
           max(col("cnt")).as("top_ngram_count"))
      .withColumn("rep_ratio",
        round(col("top_ngram_count").cast("double") / col("n_ngrams") * 10000) / 10000.0 + lit(0.0))
  }

  /** Benchmark-contamination / denylist scrub: replace word-boundary
    * matches of the denylisted terms and report how many were hit — the
    * decontamination pass every training corpus runs against eval-set
    * strings. Pure map-side regex (scan-dominated at 100 TB); the pattern
    * is one alternation compiled once per task.
    */
  def decontaminate(df: DataFrame, textCol: String, denylist: Seq[String],
                    replacement: String = "[REDACTED]"): DataFrame = {
    require(denylist.nonEmpty, "decontaminate needs a non-empty denylist")
    val pattern = denylist.map(java.util.regex.Pattern.quote)
      .mkString("\\b(", "|", ")\\b")
    df.withColumn("n_hits", regexp_count(col(textCol), lit(pattern)).cast("long"))
      .withColumn("clean_text", regexp_replace(col(textCol), pattern, replacement))
  }

  /** Concatenate-then-chunk plan (the GPT-style packing shape): documents
    * are laid out in a deterministic order (doc id) within each shard
    * (`source`), the running token offset places each doc in the token
    * stream, and chunk_id = floor(start_offset / contextLen) says which
    * training window its first token lands in. The window partitions by
    * shard, so no global single-partition sort exists — each shard's
    * running sum parallelizes independently (at 100 TB, shards are the
    * unit of packing exactly so this stays true).
    */
  def chunkPlan(df: DataFrame, shardCol: String, idCol: String, textCol: String,
                contextLen: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_id", floor(col("start_offset") / lit(contextLen)).cast("long"))
  }

  /** Sliding-window chunk plan (the RAG/embedding-pipeline shape, the
    * overlapping complement of [[chunkPlan]]): windows of `chunkTokens`
    * tokens advancing by `stride` (< chunkTokens ⇒ consecutive chunks
    * overlap by chunkTokens − stride, so no boundary-spanning content is
    * lost to a cut). n_chunks = 1 for docs that fit one window, else
    * ⌈(n − W)/S⌉ + 1 — the last window always reaches the final token.
    * Map-side: a per-row `sequence` + `explode`, no shuffle at all —
    * at 100 TB this is a pure scan pass emitting ~n/S rows per doc.
    */
  def chunkPlanOverlap(df: DataFrame, idCol: String, textCol: String,
                       chunkTokens: Int = 512, stride: Int = 384): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunkTokens=$chunkTokens")
    val n = tokenCount(col(textCol)).cast("long")
    val nChunks = when(n <= chunkTokens, lit(1L))
      .otherwise(ceil((n - chunkTokens).cast("double") / stride).cast("long") + 1L)
    df.select(col(idCol), n.as("n_tokens"), nChunks.as("__nc"))
      .select(col(idCol), col("n_tokens"),
        explode(sequence(lit(0L), col("__nc") - 1L)).as("chunk_idx"))
      .select(col(idCol), col("n_tokens"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_token"),
        least(col("chunk_idx") * stride + chunkTokens, col("n_tokens")).as("end_token"))
  }

  /** Benchmark n-gram contamination check via a Bloom filter — the
    * no-shuffle scale path of eval-set decontamination (the GPT-3/PaLM
    * recipe: flag any training document sharing an n-gram shingle with a
    * benchmark). The benchmark's distinct shingles build a few-MB Bloom
    * sketch at the driver (a public-API `BloomFilter` treeAggregate — bounded by
    * the benchmark, never the corpus); the corpus then streams past the
    * sketch in one map-side pass, counting its shingles that might be
    * benchmark shingles. No join, no corpus shuffle, no UDF — the probe
    * is a native codegen expression.
    *
    * Bloom semantics published honestly: `n_flagged`/`contaminated` can
    * over-count by the filter's false-positive rate but NEVER miss real
    * contamination — exactly the safe direction for a decontamination
    * gate (RowsOnlyGateSpec measures both properties against the exact
    * join on the real corpus).
    *
    * The sketch builds with a plain `treeAggregate` of
    * `BloomFilter.create(expected, fpp)` merges rather than
    * `stat.bloomFilter`: the SQL aggregate under the latter silently
    * clamps to `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`
    * (64M bits default, ≈4.5M items at this fpp), degrading the realized
    * FP rate without warning, and NPEs on a zero-shingle benchmark. The
    * direct build honors `fpp` at any benchmark size (the sketch is
    * ~2.1 MB per million shingles at fpp=0.001) and an empty benchmark
    * yields an empty filter — every doc comes back clean.
    *
    * The build never dedups: Bloom insertion is idempotent, so the
    * duplicate shingles a `distinct` would remove change nothing in the
    * bit array — dropping the explode+distinct removes the build's ONLY
    * shuffle (at scale, the benchmark's shingle exchange). The filter is
    * sized by the with-duplicate shingle total from a map-only `sum`
    * pass, which can only OVERsize it (realized FP rate ≤ `fpp`,
    * sketch bytes grow by the duplicate rate — still benchmark-bounded);
    * both passes are map-side scans of the benchmark alone.
    */
  def bloomDecontaminate(corpus: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 5, fpp: Double = 0.001): DataFrame = {
    val gramsCol = wordShingles(col(benchTextCol), n)
    val expected = math.max(benchmark
      .select(coalesce(sum(size(gramsCol).cast("long")), lit(0L)).as("c"))
      .head.getLong(0), 1L)
    val bloom = benchmark.select(gramsCol.as("gs")).rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(expected, fpp))(
      (f, row) => {
        // null text shingles to null (null-intolerant expression) — the
        // old explode build dropped such rows; skip, don't NPE
        if (!row.isNullAt(0))
          row.getSeq[String](0).foreach(g =>
            f.putBinary(g.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        f
      },
      (a, b) => { a.mergeInPlace(b); a })
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    corpus.select(col(idCol), wordShingles(col(textCol), n).as("__gs"))
      .select(col(idCol),
        size(col("__gs")).cast("long").as("n_grams"),
        org.apache.spark.sql.graft.BloomFunctions
          .bloomCountContained(col("__gs"), bytes).as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0)
  }

  /** Unigram log-probability quality score — the SQL-expressible proxy
    * of the classic LM-perplexity corpus filter (CCNet-style): score a
    * document by the mean log probability of its tokens under the
    * corpus's own unigram distribution. Machine-generated keyword spam
    * and rare-token noise score low; common prose scores high.
    *
    * Plan shape — the t18 Bloom discipline applied to the LM score: the
    * corpus unigram distribution is VOCABULARY-sized, so it is built once
    * (map-side-reduced count, one tiny collect) and shipped inside a
    * native expression ([[org.apache.spark.sql.graft.UnigramLogProbSum]])
    * instead of joined. Scoring is then a pure map pass: each document's
    * token array is row-local, so the per-doc mean needs NO (doc, token)
    * explode, no token-keyed join (a corpus-dominating token is a skew
    * hazard only if tokens ever shuffle — here they don't), and no
    * per-doc aggregation exchange. Two scans total at any corpus size.
    * The mean is decimal-exact per occurrence (the expression quantizes
    * each token's log-prob through Spark's own double→decimal(20,10)
    * cast before the order-free decimal sum), so the DuckDB oracle —
    * which sums per occurrence — matches bit-for-bit (same determinism
    * discipline as s3/s5). [[unigramLogProbJoined]] keeps the relational
    * shape for vocabularies too big to ship.
    */
  /** Vocabulary-size ceiling for the driver-built model path: above it,
    * [[unigramLogProb]] dispatches to [[unigramLogProbJoined]] instead of
    * collecting. 2M (token, count) rows is tens of MB on the driver and
    * in each task binary — the same budget class as the t18 Bloom
    * sketch; a web-scale corpus vocabulary (10^8+) must go through the
    * join. The bound is enforced with `limit(max + 1).collect()`, so the
    * oversize case never materializes the full distribution driver-side.
    */
  val maxModelVocab = 2000000

  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     maxVocab: Int = maxModelVocab): DataFrame = {
    // pass 1 — the corpus unigram distribution, reduced map-side to one
    // row per vocabulary token and collected: the model is
    // vocabulary-sized, the same budget class as the t18 Bloom sketch.
    // limit(max+1) bounds the collect itself: if the vocabulary exceeds
    // the cap we get max+1 arbitrary rows (cheap) and fall back to the
    // relational twin instead of OOMing the driver on pass 1
    val dist = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val cnt = dist.limit(maxVocab + 1).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    if (cnt.length > maxVocab)
      return unigramLogProbJoined(df, idCol, textCol)
    val total = cnt.map(_._2).sum
    // log computed once per DISTINCT token, with the exact expression the
    // relational twin evaluates per pair: log(c * 1.0 / t) in IEEE double.
    // StrictMath.log, NOT math.log: Spark SQL's log evaluates through
    // StrictMath (so does the twin and the DuckDB oracle's libm on this
    // platform), while java.lang.Math.log is a JIT intrinsic permitted
    // 1 ulp of divergence — enough to flip a decimal(20,10) HALF_UP
    // boundary and break the bit-for-bit twin parity on some JVMs
    val lp = cnt.map { case (t, c) => t -> StrictMath.log(c * 1.0 / total) }.toMap
    // pass 2 — pure map-side scoring: each document streams past the
    // driver-built model (native expression, decimal-exact per
    // occurrence), no token-keyed join, no (doc, token) shuffle. The
    // per-doc aggregate happens INSIDE the row (the token array is
    // row-local), so the whole query is two scans and one tiny collect.
    // Zero-token docs are dropped to match the relational/oracle
    // semantics (their group never exists after the explode).
    // drop zero-token docs BEFORE scoring: ANSI division would throw on
    // n_tokens = 0 (and the relational/oracle semantics drop them anyway
    // — their group never exists after the explode). The predicate is
    // size(tokens) — NOT the scored struct's n_tokens: a struct-field
    // filter gets substitution-pushed below the project and the model
    // pass runs TWICE per doc (once in the pushed filter, once in the
    // projection — the ledger caught it); the token-array size is the
    // identical condition at tokenizer cost
    df.filter(size(tokens(col(textCol))) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.UnigramFunctions
          .unigramLogProbSum(tokens(col(textCol)), lp).as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        (round(col("__s.lp_sum").cast("double") / col("__s.n_tokens") * 10000)
          / 10000.0 + lit(0.0)).as("avg_logprob"))
  }

  /** The relational twin of [[unigramLogProb]] — token-explode, join the
    * tf table to the derived vocabulary counts, decimal-weighted mean.
    * Kept as the executable cross-check (TextSpec pins the two forms
    * equal) and as the fallback for vocabularies too large to collect:
    * the model path ships the whole vocabulary in the task binary, this
    * one broadcasts-or-shuffles it through a join (AQE handles the skew).
    */
  def unigramLogProbJoined(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("token").agg(sum(col("tf")).as("c"))
    val tot = cnt.agg(sum(col("c")).as("t"))
    tf.join(cnt, "token")
      .crossJoin(broadcast(tot))
      .withColumn("lp", log(col("c") * lit(1.0) / col("t")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        (round(sum(col("lp").cast("decimal(20,10)") * col("tf")).cast("double")
          / sum(col("tf")) * 10000) / 10000.0 + lit(0.0)).as("avg_logprob"))
  }

  /** Sequence packing plan (concat-and-split): assign every document its
    * position in the fixed-length training-sequence stream its shard
    * produces — the packing bookkeeping a pretraining tokenizer job
    * emits. Documents are concatenated per shard in deterministic
    * (doc id) order and the token stream is cut every `seqLen` tokens;
    * each doc reports the sequence ids its tokens land in (`seq_first`..
    * `seq_last`) and how many sequences it touches. First-fit bin
    * packing would need sequential bin state; concat-and-split is what
    * streaming pretraining pipelines actually do, and it is pure window
    * arithmetic: ONE per-shard cumulative sum (the d11 epoch-shuffle
    * shape — no global sort, shards scale out) and everything else is
    * per-row division.
    */
  def sequencePack(df: DataFrame, idCol: String, textCol: String,
                   seqLen: Int = 64, nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    df.select(col(idCol),
        pmod(col(idCol), lit(nShards)).cast("long").as("shard"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("end_pos", sum(col("n_tokens")).over(w))
      .withColumn("start_pos", (col("end_pos") - col("n_tokens")).cast("long"))
      .select(col(idCol), col("shard"), col("n_tokens"), col("start_pos"),
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(floor(col("start_pos") / lit(seqLen)).cast("long")).as("seq_first"),
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(floor((col("end_pos") - 1) / lit(seqLen)).cast("long")).as("seq_last"))
      .withColumn("n_seqs",
        coalesce(col("seq_last") - col("seq_first") + 1, lit(0L)).cast("long"))
  }

  /** Exact substring-level duplicate-span census (the marking pass of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): slide a `w`-token window over
    * each document, find windows whose exact text occurs in ≥ `minDocs`
    * DISTINCT documents corpus-wide, and report per document how many
    * tokens the UNION of its duplicated windows covers — the spans an
    * exact-substring dedup pass would cut.
    *
    * Plan: one positional window explode (map-side; windows keyed by
    * md5 so the shuffle carries a 32-char address, not w tokens of text)
    * → corpus-wide distinct-doc count per window hash (one shuffle) →
    * join hits back (AQE broadcasts the dup set when small) → per-doc
    * gaps-and-islands over window START positions: a window at p covers
    * [p, p+w−1], so starts ≤ prev + w chain into one island and the
    * union length is Σ(max_p − min_p + w) — two window functions over ONE
    * (doc, pos) sort. Never materializes per-token rows: coverage is
    * interval arithmetic on starts. The suffix-array formulation finds
    * duplicated spans of ANY length ≥ threshold; fixed-w windows find
    * exactly the spans ≥ w (shorter overlaps merge via the island step),
    * which is the trade that keeps the operator one explode + two
    * shuffles at 100 TB.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   w: Int = 8, minDocs: Int = 2): DataFrame = {
    val wins = df.select(col(idCol),
        posexplode(wordShingleOccurrences(col(textCol), w)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"), md5(col("gram")).as("h"))
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val islands = wins.join(dup, "h")
      .withColumn("brk",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
             col("pos") > lag(col("pos"), 1).over(byDoc) + w, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("isl"))
      .agg((max(col("pos")) - min(col("pos")) + w).as("len"),
           count(lit(1)).as("nw"))
      .groupBy(col(idCol))
      .agg(sum(col("len")).as("covered"), sum(col("nw")).as("ndw"))
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(islands, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("ndw"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("covered"), lit(0L)).cast("long").as("tokens_covered"),
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(coalesce(col("covered"), lit(0L)) * lit(1.0) / col("n_tokens") * 10000)
            / 10000.0 + lit(0.0)).as("dup_frac"))
  }

  /** Per-document mean bigram log-likelihood under an add-1-smoothed
    * corpus bigram model — the next step up the KenLM-style fluency
    * ladder from [[unigramLogProb]]: repetitive or shuffled word salad
    * scores low even when its unigram mix looks normal, because the model
    * conditions on the previous token:
    *
    *   P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)
    *
    * with V = unigram vocabulary size; documents with < 2 tokens have no
    * bigram positions and are dropped (same convention as the t17
    * family's zero-token drop).
    *
    * Plan — the t17 driver-built-model recipe one conditioning token up:
    * the model (distinct bigrams + their add-1 log-probs) is
    * OBSERVED-BIGRAM-sized, so when it fits the [[maxModelVocab]]
    * budget it is built once (map-side-reduced counts, one bounded
    * collect) and shipped inside a native expression
    * ([[org.apache.spark.sql.graft.BigramLogProbSum]]) instead of
    * joined — scoring is then a pure map pass over each document's
    * row-local token array: no (doc, bigram) explode, no bigram-keyed
    * shuffle, no per-doc aggregation exchange. Log-probs are computed
    * once per DISTINCT bigram with the exact IEEE expression the
    * relational twin evaluates (`StrictMath.log((cb+1)*1.0/(c1+v))`),
    * quantized per occurrence through the double→decimal(20,10) cast —
    * bit-identical to [[bigramLogProbJoined]] and the DuckDB oracle
    * (parity pinned in TextSpec). Corpora whose observed-bigram universe
    * exceeds the budget dispatch to the relational twin — the bound is
    * enforced with `limit(max+1).collect()`, so the oversize case never
    * materializes the full model driver-side.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    maxModel: Int = maxModelVocab): DataFrame = {
    val cb = df.select(explode(wordShingleOccurrences(col(textCol), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c1 = cb.groupBy("w1").agg(sum(col("cb")).as("c1"))
    val vocab = df.select(explode(tokens(col(textCol))).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    val rows = cb.join(c1, "w1").crossJoin(broadcast(vocab))
      .select(col("bigram"), col("cb"), col("c1"), col("v"))
      .limit(maxModel + 1).collect()
    if (rows.length > maxModel)
      return bigramLogProbJoined(df, idCol, textCol)
    // StrictMath.log, not math.log — the t17 determinism note applies
    val lp = rows.map { r =>
      r.getString(0) ->
        StrictMath.log((r.getLong(1) + 1L) * 1.0 / ((r.getLong(2) + r.getLong(3)) * 1.0))
    }.toMap
    // docs with < 2 tokens have no bigram positions and are dropped
    // (their group never exists after the relational explode); filter on
    // the token-array size, not the scored struct — a struct-field
    // predicate pushes below the project and scores every doc twice
    // (the t17 ledger lesson)
    df.filter(size(tokens(col(textCol))) >= 2)
      .select(col(idCol),
        org.apache.spark.sql.graft.BigramFunctions
          .bigramLogProbSum(tokens(col(textCol)), lp).as("__s"))
      .select(col(idCol), col("__s.n_bigrams").as("n_bigrams"),
        (round(col("__s.lp_sum").cast("double") / col("__s.n_bigrams") * 10000)
          / 10000.0 + lit(0.0)).as("avg_logprob"))
  }

  /** The relational twin of [[bigramLogProb]] — occurrence explode, model
    * join, decimal per-occurrence sum. Kept as the executable cross-check
    * (TextSpec pins the two forms equal) and as the scale path for
    * observed-bigram universes too large to ship driver-side.
    *
    * Plan: NO corpus-sized shuffle anywhere. The model tables — corpus
    * bigram counts and their w₁ margins — aggregate the occurrence
    * stream map-side down to distinct-bigram cardinality before their
    * exchange; V rides as a broadcast 1-row cross join. Scoring then
    * joins each OCCURRENCE to the model's per-bigram decimal lp and sums
    * per doc — decimal addition is exact, so Σ lp over occurrences ≡
    * Σ lp·tf, and the per-doc aggregate partial-combines map-side (the
    * first cut built an explicit (doc, bigram) tf table; its 26 M-pair
    * shuffle was the whole cost of the query at the ×100 probe and
    * carried no information the occurrence sum doesn't). The model join
    * is left to AQE: observed-bigram cardinality is vocabulary²-bounded,
    * broadcast when small, a model-sized shuffle join when not. Same
    * decimal determinism discipline as [[unigramLogProbJoined]].
    */
  def bigramLogProbJoined(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = df.select(col(idCol),
      explode(wordShingleOccurrences(col(textCol), 2)).as("bigram"))
    val cb = occ.groupBy("bigram").agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c1 = cb.groupBy("w1").agg(sum(col("cb")).as("c1"))
    val vocab = df.select(explode(tokens(col(textCol))).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    val model = cb.join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("bigram"),
        log((col("cb") + lit(1)) * lit(1.0) / (col("c1") + col("v"))).as("lp"))
    occ.join(model, "bigram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        (round(sum(col("lp").cast("decimal(20,10)")).cast("double")
          / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_logprob"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per document, the mean
    * per-token log-likelihood RATIO between a TARGET distribution (the
    * high-quality subset you want more of — wiki-like sources, a seed
    * corpus) and the overall corpus distribution, with Laplace smoothing
    * so target-unseen tokens penalize rather than -∞. Documents whose
    * token mix resembles the target score high; importance RESAMPLING
    * then keeps documents with probability ∝ exp(weight) — the selection
    * machinery is [[graft.dedup.Dedup.weightedSourceSample]]'s
    * content-hash trick applied to these weights.
    *
    * The paper hashes n-grams into a fixed-width bucket space; this
    * implementation scores raw unigrams so the WHOLE pipeline stays
    * relational and independently replayable by the DuckDB oracle —
    * swapping `tokens` for a hashed-n-gram expression changes nothing
    * structural.
    *
    * Plan — the t17/t23 driver-built-model recipe, log-RATIO flavored:
    * the model (token → log-likelihood ratio) is vocabulary-sized, so
    * when it fits the [[maxModelVocab]] budget both count tables are
    * map-side-reduced, collected once (bounded by `limit(max+1)`), the
    * per-token ratio is computed once per DISTINCT token with the exact
    * IEEE expression the relational twin evaluates (two StrictMath.log
    * calls on the identically-typed operands), and scoring is ONE
    * map-side pass of each document's row-local token array through
    * [[org.apache.spark.sql.graft.UnigramLogProbSum]] — no (doc, token)
    * tf shuffle, no token-keyed model join, no per-doc aggregation
    * exchange. Per-occurrence double→decimal(20,10) quantization keeps
    * the sum bit-identical to the twin's `Σ decimal(lr)·tf` (decimal
    * addition is exact, so tf quantized copies ≡ one quantized value
    * times tf). Vocabularies over budget dispatch to
    * [[dsirWeightsJoined]] — the bound is enforced before anything
    * corpus-wide reaches the driver.
    *
    * Zero-token docs are dropped (their group never exists after the
    * twin's explode; here the n_tokens > 0 filter), matching the oracle.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, maxVocab: Int = maxModelVocab): DataFrame =
    dsirScored(df, idCol, textCol, isTarget, Nil, maxVocab)

  /** The relational twin of [[dsirWeights]] — (doc, token) tf aggregate,
    * vocab-sized count tables joined back on the token, broadcast scalar
    * totals, decimal-stable weighted mean (StrictMath ln on both
    * engines, DECIMAL(20,10) accumulation, half-up round to 4). Kept as
    * the executable cross-check (TextSpec pins the two forms equal) and
    * as the scale path for vocabularies too large to ship driver-side —
    * at 100 TB the two count tables are the only corpus-wide state
    * (vocab-bounded).
    */
  def dsirWeightsJoined(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column): DataFrame =
    dsirScoredJoined(df, idCol, textCol, isTarget, Nil)

  /** Shared core of [[dsirWeights]]/[[dsirResample]]: scores every doc
    * and carries `extra` row-derived columns (e.g. the resample's
    * content-hash uniform) through WHICHEVER path dispatches — the fast
    * path computes them in the same scan, the joined twin attaches them
    * by id afterwards, so the resample never pays an id-join when the
    * model fit driver-side.
    */
  private def dsirScored(df: DataFrame, idCol: String, textCol: String,
                         isTarget: Column, extra: Seq[(String, Column)],
                         maxVocab: Int): DataFrame = {
    // ONE model pass fits BOTH count tables: the target is a row-subset
    // of df, so its per-token count is a conditional count over the same
    // exploded stream — the previous separate target pass re-ran the
    // tokenizer+explode over the target slice and paid a second
    // aggregate + collect job for counts this scan already had in hand
    val cs = df.select(isTarget.as("__t"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cs"),
        count(when(col("__t"), lit(1))).as("ct"))
    val csRows = cs.limit(maxVocab + 1).collect()
    if (csRows.length > maxVocab)
      return dsirScoredJoined(df, idCol, textCol, isTarget, extra)
    val csMap = csRows.map(r => r.getString(0) -> r.getLong(1))
    val ns = csMap.iterator.map(_._2).sum
    val v = csMap.length.toLong
    val ctMap = csRows.iterator.filter(_.getLong(2) > 0)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val nt = ctMap.valuesIterator.sum
    // exact twin expression per distinct token: double numerators (long
    // count + 1.0), LONG-summed denominators promoted at the division —
    // StrictMath.log, not math.log (the t17 determinism note)
    val lr = csMap.map { case (t, c) =>
      t -> (StrictMath.log((ctMap.getOrElse(t, 0L) + 1.0) / (nt + v)) -
            StrictMath.log((c + 1.0) / (ns + v)))
    }.toMap
    // zero-token drop on the token-array size, not the scored struct —
    // a struct-field predicate pushes below the project and scores every
    // doc twice (the t17 ledger lesson)
    val scored = df.filter(size(tokens(col(textCol))) > 0)
      .select(
        (col(idCol) +: extra.map { case (n, c) => c.as(n) }) ++ Seq(
          org.apache.spark.sql.graft.UnigramFunctions
            .unigramLogProbSum(tokens(col(textCol)), lr).as("__s")): _*)
    scored.select(
      (col(idCol) +: extra.map { case (n, _) => col(n) }) ++ Seq(
        col("__s.n_tokens").as("n_tokens"),
        (round(col("__s.lp_sum").cast("double") / col("__s.n_tokens") * 10000)
          / 10000.0 + lit(0.0)).as("dsir_weight")): _*)
  }

  private def dsirScoredJoined(df: DataFrame, idCol: String, textCol: String,
                               isTarget: Column,
                               extra: Seq[(String, Column)]): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val cs = tf.groupBy("token").agg(sum(col("tf")).as("cs"))
    val ct = df.filter(isTarget)
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("ct"))
    // smoothing constants: corpus token total + vocab size, target token
    // total; single-row frames broadcast into the scoring join
    val consts = cs.agg(sum(col("cs")).as("ns"), count(lit(1)).as("v"))
    val tgtTot = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val w = tf.join(cs, "token")
      .join(ct, Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .crossJoin(broadcast(tgtTot))
      .withColumn("__lr",
        log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + col("v"))) -
        log((col("cs") + lit(1.0)) / (col("ns") + col("v"))))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        (round(sum(col("__lr").cast("decimal(20,10)") * col("tf")).cast("double")
          / sum(col("tf")) * 10000) / 10000.0 + lit(0.0)).as("dsir_weight"))
    if (extra.isEmpty) w
    else df.select(col(idCol) +: extra.map { case (n, c) => c.as(n) }: _*)
      .join(w, Seq(idCol))
      .select((col(idCol) +: extra.map { case (n, _) => col(n) }) ++ Seq(
        col("n_tokens"), col("dsir_weight")): _*)
  }

  /** [[dsirWeights]] in the paper's ACTUAL feature space — hashed
    * n-grams in a fixed-width bucket domain (Xie et al. 2023 §3 use
    * hashed n-gram counts precisely so the model is CONSTANT-size):
    * every word bigram hashes into one of `buckets` cells via the
    * repo's standard content-hash recipe (md5 first-8-hex → long →
    * pmod — the hashSplit/dsirResample bucket, already oracle-parity-
    * proven), and the log-likelihood-ratio model lives on the bucket
    * domain. The driver model is therefore ≤ `buckets` entries BY
    * CONSTRUCTION — no vocabulary budget, no relational fallback — the
    * unconditional 100 TB form of the t20 operator: two bucket-count
    * aggregations (map-side-reduced to ≤ buckets rows each), one
    * bounded collect, one map-side scoring pass through the same
    * [[org.apache.spark.sql.graft.UnigramLogProbSum]] over the row-local
    * bucket array. Bigram conditioning makes shuffled word salad score
    * low even where its unigram mix looks target-like (the t23
    * rationale); sub-bigram docs are dropped (the t23 convention).
    * Same decimal-quantization and StrictMath determinism contract as
    * [[dsirWeights]]; smoothing constants keep the same formula with
    * the OBSERVED distinct-bucket count as the vocabulary term.
    */
  def dsirWeightsHashed(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, buckets: Int = 10000): DataFrame = {
    require(buckets > 0, s"buckets must be positive; got $buckets")
    def terms(c: Column): Column =
      transform(wordShingleOccurrences(c, 2), g =>
        pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).cast("string"))
    // ONE model pass fits BOTH bucket-count tables (the dsirScored
    // rationale): the target's count is a conditional count over the
    // same hashed-bigram stream — the separate target pass re-paid the
    // md5-per-bigram derivation over the target slice for nothing
    val rows = df.select(isTarget.as("__t"), explode(terms(col(textCol))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cs"),
        count(when(col("__t"), lit(1))).as("ct"))
      .collect()
    val csMap = rows.map(r => r.getString(0) -> r.getLong(1))
    val ns = csMap.iterator.map(_._2).sum
    val v = csMap.length.toLong
    val ctMap = rows.iterator.filter(_.getLong(2) > 0)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val nt = ctMap.valuesIterator.sum
    val lr = csMap.map { case (b, c) =>
      b -> (StrictMath.log((ctMap.getOrElse(b, 0L) + 1.0) / (nt + v)) -
            StrictMath.log((c + 1.0) / (ns + v)))
    }.toMap
    df.filter(size(tokens(col(textCol))) >= 2)
      .select(col(idCol),
        org.apache.spark.sql.graft.UnigramFunctions
          .unigramLogProbSum(terms(col(textCol)), lr).as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_grams"),
        (round(col("__s.lp_sum").cast("double") / col("__s.n_tokens") * 10000)
          / 10000.0 + lit(0.0)).as("dsir_weight"))
  }

  /** The SELECTION step completing [[dsirWeights]] into full DSIR:
    * importance resampling via the Gumbel-top-k trick — keeping the k
    * largest `weight + Gumbel(0,1)` keys samples k documents WITHOUT
    * replacement with probability ∝ exp(weight), which is exactly the
    * paper's resampling step. The Gumbel noise is DETERMINISTIC: the
    * content-hash bucket recipe shared with hashSplit/weightedSourceSample
    * (md5 first-8-hex → bucket ∈ [0, 1e6)) gives u = (bucket + 0.5)/1e6 ∈
    * (0,1) — the +0.5 keeps ln(u) finite at bucket 0 — and
    * g = −ln(−ln u). Content-keyed noise means duplicate texts get
    * identical keys (kept or dropped together) and the sample is
    * reproducible across engines and reshuffles, which is what makes the
    * query oracle-able at all.
    *
    * Scale shape: the weight computation is [[dsirWeights]], and the
    * uniform is row-derived (md5 of the text), so on the driver-model
    * path it rides the SAME scoring scan — no id-join (the joined
    * fallback attaches it by id, as the twin must). The top-k is a
    * global orderBy+limit — Spark's TakeOrderedAndProject, a
    * per-partition bounded heap + driver merge of k rows, never a full
    * sort. Published key rounded to 4; ordering is on the raw double with
    * an id tie-break, so the kept SET is stable even where rounding
    * collides.
    */
  def dsirResample(df: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, k: Int,
                   maxVocab: Int = maxModelVocab): DataFrame = {
    val bucket = pmod(conv(substring(md5(col(textCol)), 1, 8), 16, 10).cast("long"),
      lit(1000000L))
    val u = (bucket + lit(0.5)) / lit(1000000.0)
    dsirScored(df, idCol, textCol, isTarget, Seq("__u" -> u), maxVocab)
      .withColumn("__key", col("dsir_weight") - log(-log(col("__u"))))
      .orderBy(col("__key").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("n_tokens"), col("dsir_weight"),
        round(col("__key"), 4).as("gumbel_key"))
  }

  /** Per-document stats projection used by the documents-table queries. */
  def docStats(df: DataFrame, textCol: String, stopwords: Seq[String]): DataFrame =
    df.withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("avg_token_len", round(avgTokenLen(col(textCol)), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(col(textCol), stopwords), 4))
      .withColumn("type_token_ratio", round(typeTokenRatio(col(textCol)), 4))

  // ---------------------------------------------------------- pii scrub

  /** RE2-safe PII patterns — no lookaround, no backreferences, so the
    * DuckDB/RE2 oracle compiles the byte-identical pattern Spark's Java
    * regex does and both engines agree on every match.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub (the redaction pass a training corpus runs before release):
    * per-category match counts plus the redacted text. Counts are measured
    * on the ORIGINAL text per category, so they are order-independent;
    * redaction applies email → phone → IPv4 sequentially with DIGIT-FREE
    * placeholders, so an earlier redaction can neither create nor destroy
    * a later category's match. Pure map-side regex — scan-dominated at
    * 100 TB, no shuffle.
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit(emailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(phonePattern), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(ipv4Pattern), lit(0))).cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>"),
        ipv4Pattern, "<IP>").as("clean_text"))
  }

  /** URL census for web-corpus curation: the corpus-level domain
    * distribution (the domain-mix report every crawl pipeline audits).
    * RE2-safe pattern; the domain is the authority up to the first `/`,
    * `?`, `#` or whitespace. One map-side extraction + one groupBy on the
    * (low-cardinality) domain.
    */
  val domainPattern = "https?://([^\\s/?#]+)"

  def domainCensus(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol), lit(domainPattern), lit(1)))
        .as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n"))

  // ------------------------------------------------------ C4 line rules

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the rules
    * behind the C4 corpus): keep a line iff it (a) has at least `minWords`
    * whitespace-delimited words, (b) ends in terminal punctuation, (c)
    * contains no curly brace (code/markup), and (d) carries none of the
    * boilerplate markers (javascript / cookie / lorem ipsum,
    * case-insensitive). Emits the kept lines rejoined plus per-document
    * line accounting, so the drop rate is auditable. One pass of array
    * lambdas over the line split — map-side, codegen'd, RE2-safe.
    */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 5): DataFrame = {
    val lines = split(col(textCol), "\n")
    def keep(l: Column): Column =
      (size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minWords) &&
        l.rlike("[.!?\"]\\s*$") &&
        !l.contains("{") && !l.contains("}") &&
        !lower(l).contains("javascript") && !lower(l).contains("cookie") &&
        !lower(l).contains("lorem ipsum")
    val kept = filter(lines, keep(_))
    df.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }
}
