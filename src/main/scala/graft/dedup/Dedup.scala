package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.Text
import graft.sim.Similarity

/** Deduplication operators for training-data pipelines (north-star
  * extension, repo BASELINE.json): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Scale posture: every variant is (per-row signature expression — no
  * shuffle) → (groupBy/join on a compact key — one shuffle on the
  * signature, never on the raw text). Raw documents are never compared
  * all-pairs; candidate generation always goes through a bucket key whose
  * expected bucket size is O(1), which is the only join shape that survives
  * 100 TB. Signatures are fixed-width longs — shuffle bytes per doc are
  * ~8·k regardless of document size.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest-id row per identical text.
    *
    * Phrased as `groupBy(md5(text)).agg(min_by(struct(*), id))`, NOT as a
    * row_number window over the hash: the window shape shuffles EVERY row
    * (text included) and then sorts each partition, because window
    * functions cannot partial-aggregate. min_by partial-aggregates
    * map-side, so the exchange carries at most one candidate row per
    * distinct content per map task — on a dup-heavy corpus that is ~the
    * output, the lower bound (the keeper rows have to cross the wire
    * exactly once to be grouped with their duplicates) — and no sort of
    * document rows exists anywhere in the plan. A narrow
    * `groupBy(hash).agg(min(id))` + join-back would shuffle the full rows
    * AGAIN on the join key, which is strictly worse.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val allCols = df.columns.map(col)
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min_by(struct(allCols: _*), col(idCol)).as("__keep"))
      .select(df.columns.map(c => col(s"__keep.$c")): _*)
  }

  /** Exact-dup census: total docs, distinct contents, dup rows removed. */
  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_docs"),
      countDistinct(md5(col(textCol))).as("distinct_docs"),
      (count(lit(1)) - countDistinct(md5(col(textCol)))).as("dup_docs"))

  // -------------------------------------------------------------- minhash

  /** MinHash signature: k permutations approximated by the two-hash mix
    * g_i(s) = h1(s) + i·h2(s) over the doc's shingle set; element i = min.
    * Native codegen expression (o.a.s.sql.graft.MinHashSignature) — a tight
    * per-row loop hashing each shingle twice, vs the higher-order-function
    * formulation that paid interpreted lambda dispatch per (shingle × k).
    * Empty shingle set → all Long.MaxValue.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.minhashSignature(shingles, k)

  /** LSH banding: k = bands·rowsPerBand minhashes → one bucket hash per
    * band. Docs sharing ANY band bucket are candidates; the usual S-curve:
    * P(candidate) = 1 - (1 - j^rows)^bands for Jaccard j.
    * Output: (id, band, bucket) — the join key table.
    *
    * The per-band bucket array is ONE native expression evaluated once per
    * row (signature + band mixing in a single loop), so it stays cheap even
    * when CollapseProject inlines it into the generator. Earlier HOF
    * versions re-evaluated the shingle hashing per band — 15 min → seconds
    * at sf0.1 — and the native loop removes the remaining per-element
    * interpreted dispatch.
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    // docs too short to shingle cannot be MinHash candidates; that
    // exclusion lives in the EXPRESSION (lshBands of an empty shingle
    // set is an empty array, so the explode emits nothing) rather than
    // an explicit size(__sh) > 0 filter — the filter form collapsed
    // into the scan and re-derived the shingles once per row just to
    // test emptiness (the same inferred/collapsed-filter trap the SRP
    // and IVF generators close)
    df.select(col(idCol), Text.wordShingles(col(textCol), shingleSize).as("__sh"))
      .select(col(idCol),
        posexplode(org.apache.spark.sql.graft.HashFunctions
          .lshBandBuckets(col("__sh"), bands, rowsPerBand)).as(Seq("band", "bucket")))

  /** Candidate pairs from LSH buckets (id1 < id2, distinct across bands).
    * The self-join is on (band, bucket) — expected O(1) rows per key when
    * bands·rows are sized to the target similarity. Degenerate hot
    * buckets (boilerplate shingles, duplicate-heavy corpora where every
    * copy shares every band bucket) make the self-join occupancy-
    * QUADRATIC, so `bucketCap` drops buckets past the occupancy bound —
    * the same guard, rationale and observation discipline as the
    * incremental path ([[defaultBucketCap]]) and the SimHash blocker
    * (whose uncapped ×100 probe read 332× for 100× data). Exact
    * duplicates are the exact-dedup pass's job (d1/d2 run first in the
    * curation funnel); a real near-dup pair has `bands` independent
    * chances to survive. 0 disables.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, bands: Int = 8,
                            rowsPerBand: Int = 4,
                            bucketCap: Int = defaultBucketCap): DataFrame = {
    val b = lshBuckets(df, idCol, textCol, shingleSize, bands, rowsPerBand)
    val gated = capBuckets(b, Seq("band", "bucket"), bucketCap,
      "graft_minhash_bucket_cap")
    val l = gated.select(col("band"), col("bucket"), col(idCol).as("id1"))
    val r = gated.select(col("band"), col("bucket"), col(idCol).as("id2"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Incremental LSH candidates: a NEW batch against the EXISTING corpus —
    * the production shape of dedup at scale (today's crawl vs yesterday's
    * 100 TB), where re-pairing the corpus against itself every day would
    * be both quadratic and pointless. Both sides are banded with the SAME
    * LSH geometry and joined on (band, bucket), but the pair stream is
    * strictly new×corpus: corpus×corpus candidates never exist, so the
    * per-day cost is proportional to the NEW batch's bucket occupancy,
    * not the corpus's. At scale the corpus side of this join is a
    * build-once artifact — `lshBuckets` output persisted partitioned by
    * band (the SrpIndex/IvfIndex pattern); the recompute here keeps the
    * operator self-contained for the driver harness. Output: (id1 = new
    * doc, id2 = corpus doc), distinct across bands, ready for
    * [[jaccardForPairs]] verification.
    */
  /** Corpus-side bucket-occupancy cap for the incremental candidate join
    * (0 disables). An LSH bucket whose occupancy is far past the O(1)
    * design point is boilerplate, not similarity signal — its cost is
    * occupancy × batch-hits PAIRS (then that many exact-Jaccard verifies),
    * the quadratic-per-bucket term that dominated the ×100 probe's d15 row
    * (10.3× at 100× data, docs/SCALE_PROBE.md). Dropping the bucket loses
    * little: a genuinely near-dup pair has `bands` independent chances to
    * collide and EXACT duplicates are the exact-dedup pass's job (d1/d2
    * run before LSH in the curation funnel), so only pairs whose every
    * band lands in a hot bucket vanish. 64 ≈ 16× the expected occupancy
    * at the tuned S-curve — generous for real near-dup clusters, decisive
    * against boilerplate explosions.
    */
  val defaultBucketCap = 64

  /** Observation point name for the rows the cap drops (readable from
    * `df.queryExecution.observedMetrics` after an action — the
    * CollectMetrics hook, so counting the drops costs no second corpus
    * pass).
    */
  val bucketCapObservation = "graft_dedup_bucket_cap"

  /** The occupancy guard every capped candidate generator shares: window
    * the bucket-key occupancy over the SAME columns the downstream join
    * shuffles on (the guard rides the join's own exchange), observe the
    * dropped-row count under `observation`, keep rows at or under `cap`.
    * One definition so the three call sites (minhash self-join,
    * incremental corpus side, simhash chunk blocking) can never drift.
    */
  private[graft] def capBuckets(df: DataFrame, partCols: Seq[String], cap: Int,
                                observation: String): DataFrame =
    if (cap <= 0) df else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols.map(col): _*)
      df.withColumn("__n", count(lit(1)).over(w))
        .observe(observation,
          sum(when(col("__n") > cap, 1L).otherwise(0L)).as("capped_bucket_rows"))
        .filter(col("__n") <= cap).drop("__n")
    }

  def incrementalCandidatePairs(newDf: DataFrame, corpusDf: DataFrame,
                                idCol: String, textCol: String,
                                shingleSize: Int = 3, bands: Int = 8,
                                rowsPerBand: Int = 4,
                                bucketCap: Int = defaultBucketCap): DataFrame = {
    val l = lshBuckets(newDf, idCol, textCol, shingleSize, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col(idCol).as("id1"))
    val rAll = lshBuckets(corpusDf, idCol, textCol, shingleSize, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col(idCol).as("id2"))
    // occupancy via a window over the SAME (band, bucket) keys the join
    // shuffles on — the exchange is shared with the join side, so the
    // guard rides the shuffle the join pays anyway instead of a second
    // banding pass; dropped-row count rides a CollectMetrics observation
    val r = capBuckets(rAll, Seq("band", "bucket"), bucketCap, bucketCapObservation)
    l.join(r, Seq("band", "bucket"))
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
  }

  /** [[incrementalCandidatePairs]] probing a PERSISTED corpus index
    * ([[LshIndex]]) instead of re-banding the corpus: only the new batch
    * is shingled/hashed this run; the standing side is a narrow
    * (id, band, bucket) scan partitioned by bucket-group, and with the
    * batch's bucket table broadcast, dynamic partition pruning drops
    * every group the batch never probes — the SrpIndex/IvfIndex search
    * shape applied to text dedup. Candidate SETS are identical to the
    * inline path by construction (same geometry, read from the index's
    * meta). Drop the broadcast hint if a batch ever outgrows the
    * broadcast budget; the join then shuffles on (band, bucket, group)
    * and AQE still prunes.
    */
  def incrementalCandidatePairsIndexed(handle: LshIndex.Handle, newDf: DataFrame,
                                       idCol: String, textCol: String,
                                       bucketCap: Int = defaultBucketCap): DataFrame = {
    val probe = lshBuckets(newDf, idCol, textCol,
        handle.shingleSize, handle.bands, handle.rowsPerBand)
      .withColumn("__grp", LshIndex.grpOf(col("band"), col("bucket"), handle.groups))
      .select(col("band"), col("bucket"), col("__grp"), col(idCol).as("id1"))
    // the standing side is keyed by the column the index was BUILT with
    // (persisted in its meta row) — the probe batch's idCol name need not
    // match it, and trusting the caller's here turned a geometry/contract
    // mismatch into an opaque missing-column analysis error.
    // The bucket-occupancy cap (same rule and default as the inline
    // path, so candidate sets stay identical) filters on the occupancy
    // the BUILD denormalized onto every index row — a map-side data
    // filter on the DPP-pruned scan, zero per-probe aggregation over the
    // standing corpus.
    val capped = if (bucketCap <= 0) handle.buckets
                 else handle.buckets.filter(col("bsize") <= bucketCap)
    val standing = capped
      .select(col("band"), col("bucket"), col("__grp"), col(handle.idCol).as("id2"))
    broadcast(probe).join(standing, Seq("band", "bucket", "__grp"))
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Incremental EXACT dedup: the batch rows whose content (md5 of
    * `textCol`) does not already exist in the standing corpus — the
    * first dedup pass of a daily-crawl pipeline, run before the LSH
    * near-dup machinery ([[incrementalCandidatePairs]]) so exact
    * duplicates die at hash-compare cost. Output: (idCol, content_md5)
    * of the kept batch rows. Inline form re-hashes the corpus each run;
    * [[incrementalExactNewIndexed]] probes the persisted [[HashLedger]].
    */
  def incrementalExactNew(newDf: DataFrame, corpusDf: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    val newH = newDf.select(col(idCol), md5(col(textCol)).as("content_md5"))
    val corpusH = corpusDf.select(md5(col(textCol)).as("content_md5"))
    newH.join(corpusH, Seq("content_md5"), "left_anti")
      .select(col(idCol), col("content_md5"))
  }

  /** [[incrementalExactNew]] probing a persisted [[HashLedger]]: only
    * the batch is hashed this run; the standing side is a narrow
    * content-address scan partitioned by hash-group. The membership
    * check runs as ledger ⋈ broadcast(batch hashes) INNER join — not the
    * natural batch-anti-ledger, which Spark's PartitionPruning rule
    * refuses to prune (see [[HashLedger]]) — so dynamic partition
    * pruning drops every unprobed hash-group at scan time, and the
    * matched DUPLICATE ids then knock out batch rows through a tiny
    * broadcast anti join. Kept set is identical to the inline path by
    * construction (same md5, same corpus contents).
    */
  def incrementalExactNewIndexed(ledger: HashLedger.Handle, newDf: DataFrame,
                                 idCol: String, textCol: String): DataFrame =
    incrementalNewByHash(ledger,
      newDf.select(col(idCol), md5(col(textCol)).as("content_md5")), idCol)

  /** The ledger probe with the batch's content addresses ALREADY
    * computed (a `content_md5` column beside `idCol`) — the seam that
    * lets non-SQL address derivations (codec pixel digests) share the
    * same DPP-pruned membership check. Probe shape identical to
    * [[incrementalExactNewIndexed]]'s scaladoc.
    */
  def incrementalNewByHash(ledger: HashLedger.Handle, batchHashes: DataFrame,
                           idCol: String): DataFrame = {
    // DELIBERATE double evaluation of the batch side: newH feeds both
    // the broadcast membership join and the anti-join probe, and
    // materializing it (localCheckpoint/persist) would hide the batch's
    // selective predicates behind a LogicalRDD/InMemoryRelation — which
    // stops Spark's PartitionPruning rule from inserting the dynamic
    // pruning subquery on the LEDGER scan (measured: the d18/m12 DPP
    // plan gates go red). At scale that trade is strictly wrong: DPP
    // prunes the corpus-sized ledger, the re-evaluation costs one extra
    // pass over the (daily-batch-sized) probe side. Callers with a very
    // expensive address derivation can pre-materialize and accept the
    // full ledger scan instead.
    val newH = batchHashes
      .withColumn("__grp", HashLedger.grpOf(col("content_md5"), ledger.groups))
    val dupIds = ledger.hashes
      .join(broadcast(newH), Seq("content_md5", "__grp"))
      .select(col(idCol))
    newH.join(broadcast(dupIds), Seq(idCol), "left_anti")
      .select(col(idCol), col("content_md5"))
  }

  /** Full MinHash near-dup pipeline: LSH candidates → exact Jaccard verify
    * on the shingle sets → keep pairs ≥ threshold.
    *
    * The pair set grows ~dup-rate² on duplicate-heavy corpora (each
    * k-group of mutual near-dups is a k-clique). When the consumer only
    * needs CONNECTIVITY (connected components → survivors), feed it
    * [[minhashSpanningEdges]] instead — identical closure labels, edge
    * list linear in members.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleSize: Int = 3,
                      bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val cands = minhashCandidatePairs(df, idCol, textCol, shingleSize, bands, rowsPerBand)
    val sh = df.select(col(idCol), Text.wordShingles(col(textCol), shingleSize).as("__sh"))
    cands
      .join(sh.withColumnRenamed("__sh", "__sh1"), cands("id1") === sh(idCol)).drop(idCol)
      .join(sh.withColumnRenamed("__sh", "__sh2"), cands("id2") === sh(idCol)).drop(idCol)
      .withColumn("jaccard", round(ngramJaccard(col("__sh1"), col("__sh2")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over the token set: each token votes ±1 per bit of its
    * xxhash64; sign of the vote sum is the fingerprint bit. Near-dups have
    * small Hamming distance. Native codegen expression — one tight loop per
    * row (o.a.s.sql.graft.SimHash64); the HOF formulation paid interpreted
    * dispatch per (token × 64 bits).
    */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graft.HashFunctions.simhash64(Text.tokens(text))

  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Pigeonhole blocking chunks for hamming ≤ `maxHamming` over a 64-bit
    * signature: `maxHamming + 1` DISJOINT bit ranges (boundaries at
    * i·64/n), so any pair within the bound leaves at least one chunk
    * untouched wherever the flips land — the chunk count must track the
    * bound (a fixed 4×16 layout silently loses pairs for maxHamming > 3,
    * which is why this is derived, not hardcoded). Shared by the SimHash
    * text blocker and the perceptual image-hash blocker.
    */
  private[graft] def hammingChunks(sig: Column, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val n = maxHamming + 1
    array((0 until n).map { i =>
      val lo = i * 64 / n
      val width = (i + 1) * 64 / n - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(i).as("chunk"),
        shiftrightunsigned(sig, lo).bitwiseAND(lit(mask)).as("ckey"))
    }: _*)
  }

  /** SimHash near-dup candidates: block on `maxHamming + 1` disjoint
    * signature chunks ([[hammingChunks]] — pigeonhole: any pair within
    * the bound shares at least one exact chunk), then verify the true
    * distance. One shuffle on (chunk_idx, chunk_value).
    *
    * `bucketCap` bounds per-(chunk, value) occupancy exactly like the
    * incremental LSH path's [[defaultBucketCap]] (same rationale; its
    * own CollectMetrics observation is named
    * `graft_simhash_bucket_cap`): the chunk SELF-join is
    * occupancy-QUADRATIC, and on a duplicate-heavy corpus identical
    * texts share identical fingerprints, so every bucket holds every
    * copy — the ×100 scale probe measured 332× growth for 100× data
    * before the cap (pairs ∝ dup-rate², docs/SCALE_PROBE.md). Buckets
    * past the cap are boilerplate/exact-dup mass, which is the exact-
    * dedup pass's job (d1/d2 run first); a genuinely near-dup pair has
    * `maxHamming + 1` independent chunks to survive through. 0 disables.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      bucketCap: Int = defaultBucketCap): DataFrame = {
    // token-less docs all hash to fingerprint 0: they would pair with each
    // other at hamming 0 (false positives, no verify stage here) and form
    // one hot bucket per chunk — exclude them from blocking entirely.
    // The predicate is `rlike "\S"`, EXACTLY equivalent to
    // size(tokens(text)) > 0 (tokens = whitespace split, empties dropped)
    // but without deriving the token array in a filter that collapses
    // into the scan — the simhash projection above it is the only
    // tokenize pass (the d3 single-pass discipline)
    val sigs = df.filter(col(textCol).rlike("\\S"))
      .select(col(idCol), simhash(col(textCol)).as("__sim"))
    val chunked = sigs.select(col(idCol), col("__sim"),
      explode(hammingChunks(col("__sim"), maxHamming)).as("cb"))
      .select(col(idCol), col("__sim"), col("cb.chunk"), col("cb.ckey"))
    // occupancy guard rides the same (chunk, ckey) exchange the join
    // shuffles on (the d15 pattern); dropped-row count is observable
    // through the shared CollectMetrics hook
    val gated = capBuckets(chunked, Seq("chunk", "ckey"), bucketCap,
      "graft_simhash_bucket_cap")
    val l = gated.select(col("chunk"), col("ckey"), col(idCol).as("id1"), col("__sim").as("__s1"))
    val r = gated.select(col("chunk"), col("ckey"), col(idCol).as("id2"), col("__sim").as("__s2"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hammingDist(col("__s1"), col("__s2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Jaccard similarity of two (deduplicated) shingle arrays. */
  def ngramJaccard(a: Column, b: Column): Column = {
    val union = size(array_union(a, b))
    when(union === 0, lit(null))
      .otherwise(size(array_intersect(a, b)).cast("double") / union)
  }

  /** Pairwise n-gram Jaccard over an explicit pair table (id1, id2) —
    * the verify stage shared by all candidate generators.
    */
  def jaccardForPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                      textCol: String, shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol), Text.wordShingles(col(textCol), shingleSize).as("__sh"))
    pairs
      .join(sh.withColumnRenamed("__sh", "__sh1").withColumnRenamed(idCol, "id1"), Seq("id1"))
      .join(sh.withColumnRenamed("__sh", "__sh2").withColumnRenamed(idCol, "id2"), Seq("id2"))
      .select(col("id1"), col("id2"), round(ngramJaccard(col("__sh1"), col("__sh2")), 4).as("jaccard"))
  }

  /** End-to-end training-data curation funnel: quality gate → language
    * gate → exact dedup → per-source yield summary. The shape of a real
    * corpus-curation job, where each stage only narrows the previous one
    * and nothing but the final summary materializes.
    *
    * The dedup stage does NOT reuse [[exactDedup]]: that operator must
    * output full keeper rows, so its exchange carries the documents. Here
    * the summary only needs each keeper's (source, quality), so the
    * min_by struct is projected down to exactly those two fields BEFORE
    * the shuffle — the exchange carries (16-byte hash, source, double)
    * per distinct content per map task, never a byte of text, at any
    * corpus size.
    */
  def curationFunnel(df: DataFrame, idCol: String, textCol: String,
                     sourceCol: String, minQuality: Double,
                     lang: String): DataFrame = {
    // the two gate scores ride a GENERATOR boundary: as plain withColumns
    // the filter on them is substitution-pushed below the projection and
    // the full qualityScore+langId trees (each re-tokenizing the text
    // several times) evaluate TWICE per row — once in the pushed filter,
    // once in the projection that publishes __q (the t17 ledger lesson;
    // the round-21 d6 executed plan showed both copies). A filter on a
    // generated attribute cannot cross the Generate, so each scores once;
    // the single-element array's inferred generate-filters constant-fold.
    val gated = df
      .select(col("*"), explode(array(struct(
          Text.qualityScore(col(textCol)).as("__q"),
          Text.langId(col(textCol)).as("__lang")))).as("__g"))
      .filter(col("__g").getField("__q") >= minQuality &&
        col("__g").getField("__lang") === lang)
    gated
      .select(md5(col(textCol)).as("__h"), col(idCol).as("__id"),
              struct(col(sourceCol),
                col("__g").getField("__q").as("__q")).as("__sq"))
      .groupBy("__h")
      .agg(min_by(col("__sq"), col("__id")).as("__k"))
      .groupBy(col(s"__k.$sourceCol").as(sourceCol))
      .agg(count(lit(1)).as("kept_docs"),
           // engine-stable mean (see Analytics.stableMean4): per-source
           // groups are small enough that an exact .xxxx5 mean is likely
           graft.analyze.Analytics.stableMean4(col("__k.__q")).as("avg_quality"))
  }

  /** Deterministic content-hash train/validation/test assignment: bucket =
    * first 32 bits of md5(content) mod 100, split by cumulative
    * percentage. Keying on CONTENT (not row position or RNG) is what makes
    * the split stable across reshuffles, re-ingestions and engine changes
    * — and puts exact duplicates in the same split, so train never leaks a
    * copy of a validation document. md5 (not xxhash64) so any engine can
    * recompute the assignment — the DuckDB oracle does.
    */
  def hashSplit(df: DataFrame, contentCol: String,
                trainPct: Int = 80, validationPct: Int = 10): DataFrame = {
    require(trainPct + validationPct < 100, "train+validation must leave room for test")
    val bucket = pmod(conv(substring(md5(col(contentCol)), 1, 8), 16, 10).cast("long"), lit(100))
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + validationPct, "validation")
        .otherwise("test"))
  }

  /** Deterministic weighted source mixing (training mixture weights): keep
    * a document iff its content-hash bucket falls below its source's
    * sampling fraction. Content-keyed like [[hashSplit]], so the sample is
    * reproducible across engines/reshuffles and duplicate texts are kept
    * or dropped together; pure map-side filter, pushes to the scan.
    * Sources absent from `fractions` keep `defaultFraction`.
    */
  def weightedSourceSample(df: DataFrame, sourceCol: String, contentCol: String,
                           fractions: Map[String, Double],
                           defaultFraction: Double = 1.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1),
      "sampling fractions must be in [0,1]")
    val resolution = 1000000L
    val bucket = pmod(conv(substring(md5(col(contentCol)), 1, 8), 16, 10).cast("long"),
      lit(resolution))
    // thresholds as exact LONGs computed once at plan time: `frac * 1e6`
    // in double arithmetic puts 0.1*1e6 at 100000.00000000001, so the
    // boundary bucket would pass here but fail a decimal-arithmetic
    // oracle — integer comparison has no boundary at all
    def thr(f: Double): Long = math.round(f * resolution)
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(lit(thr(defaultFraction))) {
      case (acc, (s, f)) => when(col(sourceCol) === s, lit(thr(f))).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Deterministic per-source cap: keep at most `cap` documents per
    * source, chosen by CONTENT-HASH order (then id, so the order is
    * total) — an unbiased, reshuffle-stable "at most N per source" sample,
    * the counterpart of [[weightedSourceSample]]'s fractional mixing.
    * Hash order means the kept set is a uniform sample of the source and
    * is stable across engines and re-ingestions; taking "first N by id"
    * would bias toward old documents. One window per source partition;
    * rank ≤ cap compiles to the partial WindowGroupLimit, so each map
    * task keeps at most `cap` rows per source before the shuffle.
    *
    * Deliberately NOT the bounded-heap TopKRows aggregate that o1/o4 and
    * the ANN reranks use: rows here carry the full document text, and
    * the heap deep-copies the payload on every accepted insert, while
    * WindowGroupLimit's UnsafeRow sort is a pointer/prefix sort over
    * cheap (hash, id) keys that never copies the text. Wide payloads +
    * large caps favor the sort; narrow rows + small k favor the heap.
    */
  def perSourceCap(df: DataFrame, sourceCol: String, idCol: String,
                   contentCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"perSourceCap needs cap > 0, got $cap")
    val hashKey = conv(substring(md5(col(contentCol)), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(hashKey.asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Deterministic interleaved training order: ranks each source's
    * documents by content hash (stable, unbiased — same key discipline as
    * [[perSourceCap]]) and assigns the global position
    * `(rank-1) * nSources + sourceIndex`, a round-robin interleave — so a
    * sequential reader sees sources evenly mixed instead of
    * source-clustered (the batch-composition property training cares
    * about; a source-sorted corpus gives each batch one domain).
    * Positions are globally unique when `sourceIndex` < nSources. One
    * window shuffle on the source key; writing the corpus ordered by
    * `pos` is then a plain range-partitioned sort.
    */
  def interleaveOrder(df: DataFrame, sourceCol: String, idCol: String,
                      contentCol: String, nSources: Int,
                      sourceIndex: Column): DataFrame = {
    require(nSources > 0, s"interleaveOrder needs nSources > 0, got $nSources")
    val hashKey = conv(substring(md5(col(contentCol)), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col(sourceCol)).orderBy(hashKey.asc, col(idCol).asc)
    df.withColumn("pos",
        (row_number().over(w) - 1).cast("long") * nSources + sourceIndex.cast("long"))
  }

  /** Seeded epoch shuffle: a reproducible global training order. Shard
    * round-robin on id, then order each shard by a seeded keyed hash —
    * the standard shard-and-shuffle layout (readers stream shards in
    * shard order; a new seed re-permutes every shard for the next epoch,
    * with no data movement until the write). Reference analog: the
    * random-free, rerun-stable ordering discipline of the reference's
    * loads (/root/reference/src/load.py:139-154 always writes
    * deterministic orders); the seed generalizes it to per-epoch
    * permutations.
    *
    * Scale shape: one keyed window per shard — shard count is chosen so
    * N/nShards rows sort in executor memory (the same sizing as training
    * shard files, a few GB each); materializing the order is then a plain
    * `partitionBy(shard)` write with an in-file sort on `pos`. No global
    * sort, no single-partition window anywhere.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Int,
                   nShards: Int): DataFrame = {
    require(nShards > 0, s"epochShuffle needs nShards > 0, got $nShards")
    // 48-bit hex prefix of the seeded md5 — the same engine-stable hash
    // recipe as interleaveOrder (DuckDB: CAST(concat('0x', substr(..)))
    val key = conv(substring(
      md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 12), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("__key").asc, col(idCol).asc)
    // % (sign-of-dividend remainder), not pmod: DuckDB's % in the d11
    // oracle is a remainder, and pmod(-1, 4)=3 vs -1 % 4 = -1 would
    // silently diverge the shard assignment on a negative id
    df.withColumn("shard", (col(idCol) % lit(nShards)).cast("int"))
      .withColumn("__key", key)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  // ----------------------------------------------------- dup clustering

  /** Edge budget under which [[dupClusters]] resolves components on the
    * driver (4M pairs ≈ 200 MB of boxed endpoints — broadcast-scale).
    */
  val defaultMaxDriverEdges: Long = 1L << 22

  /** Driver-side path-compressed union-find over a SIZE-GATED edge list
    * (both orientations present; one suffices, so collect id1 < id2
    * only). Union-by-min keeps the invariant that every tree's root is
    * the minimum id among its nodes, so `find` yields exactly the
    * distributed loop's fixpoint label. Labels return as a broadcast-
    * sized DataFrame parallelized back to the cluster.
    */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // <=, not <: a reflexive pair (x, x) carries no connectivity but DOES
    // introduce x as a labeled node — the distributed loop keeps it, so
    // the strict filter would break the two paths' parity contract
    val es = edges.filter(col("id1") <= col("id2"))
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    import scala.jdk.CollectionConverters._
    val labels = parent.keySet().asScala.toSeq.map(id => (id, find(id)))
    val out = spark.createDataset(labels).toDF("id", "label")
    // restore the caller's id type (int ids were widened for the map)
    val idType = edges.schema("id1").dataType
    out.select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label"))
  }

  /** Connected components over a near-dup pair table (id1 < id2) by
    * iterative minimum-label propagation: every id converges to the
    * smallest id in its component. Output: (id, label).
    *
    * Each iteration is one hop of neighbor-min propagation PLUS one
    * pointer-jump (label := label-of-label), so label reach doubles per
    * iteration: maxIter 12 (whose last observed state has seen 13 hops
    * and 11 jumps) covers component diameters past ~2^11.
    * `localCheckpoint` cuts the growing lineage so plan size stays
    * O(1) per iteration. Throws if still unconverged at maxIter rather
    * than silently returning a partial clustering (a wrong dedup keeps
    * duplicate training data).
    *
    * Two fixed costs are elided: the seed FUSES iteration 1's hop into
    * the init aggregation (from identity labels the neighbor-min is just
    * min(neighbor id)), and convergence is decided on the materialized
    * HOP frame (start label rides along as `__old`) BEFORE the
    * pointer-jump self-join — a stable hop forces equal labels across
    * every edge, so the jump of the final iteration was a provably-no-op
    * join every call used to pay.
    *
    * SMALL graphs short-circuit to a driver union-find — the broadcast-
    * join philosophy applied to connected components: the verified pair
    * set of a healthy dedup is a sliver of the corpus, and when it fits
    * the `maxDriverEdges` budget (default 4M edges ≈ a broadcast-sized
    * collect) path-compressed union-find resolves it in milliseconds
    * where the distributed loop pays ~5 shuffle jobs per doubling of
    * covered diameter. The gate is an exact count of the ALREADY
    * materialized edge list (one cheap scan job), so a 100 TB pair set
    * that outgrows the budget — or a non-integral id type — takes the
    * distributed loop unconditionally; the driver is never trusted with
    * unbounded data. Both paths produce the identical (id, min-reachable
    * -id) labeling (parity-gated in DedupSpec).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 12,
                  maxDriverEdges: Long = defaultMaxDriverEdges): DataFrame = {
    // checkpoint the symmetrized edge list ONCE: `pairs` is typically the
    // output of a full candidate-generation pipeline (LSH banding + exact
    // verify over the corpus), and every iteration references edges in
    // the propagation join — without the materialization each of the
    // ~log(diameter) iterations would re-run the entire upstream pipeline.
    // Symmetrize by per-row explode, NOT union: a union's two branches
    // each evaluate the upstream pipeline once, so the single
    // materializing pass paid the candidate-generation + verify cost
    // TWICE; the explode emits both orientations from one evaluation of
    // each pair row.
    val edges = pairs.select(col("id1"), col("id2"))
      .select(explode(array(
        struct(col("id1"), col("id2")),
        struct(col("id2").as("id1"), col("id1").as("id2")))).as("__e"))
      .select(col("__e.id1").as("id1"), col("__e.id2").as("id2"))
      .localCheckpoint()
    val idType = edges.schema("id1").dataType
    val driverEligible = maxDriverEdges > 0 &&
      (idType == org.apache.spark.sql.types.LongType ||
       idType == org.apache.spark.sql.types.IntegerType)
    if (driverEligible && edges.count() <= 2 * maxDriverEdges) // edges = 2x pairs
      return driverUnionFind(edges)
    // seed = the first hop FUSED into the init: from identity labels,
    // iteration 1's neighbor-min is just min(neighbor id), so
    // least(id, min(id2)) computes it in the same aggregation that used
    // to build the identity frame (one distinct saved, one whole
    // hop-join iteration saved)
    var labels = edges.groupBy(col("id1"))
      .agg(least(col("id1"), min(col("id2"))).as("label"))
      .select(col("id1").as("id"), col("label"))
      .localCheckpoint()
    var converged = false
    // the seed IS iteration 1's hop and convergence is decided on the HOP
    // (the final iteration's jump result is never checked), so per
    // maxIter this loop observes one fewer jump than the pre-seed
    // implementation — roughly HALVING the worst-case covered diameter at
    // equal maxIter. The default maxIter is two higher than the old 10 to
    // over-compensate (two extra doublings); converged-early inputs —
    // every real near-dup corpus, whose cluster diameters are tiny —
    // never reach the extra iterations. `<=` (not `<`) lets maxIter = 1
    // converge on already-stable seeds instead of throwing unchecked.
    var i = 1
    while (!converged && i <= maxIter) {
      val neighborMin = edges.join(labels, edges("id2") === labels("id"))
        .groupBy(edges("id1").as("id")).agg(min(col("label")).as("__nl"))
      // materialize the hop and decide convergence on IT, before the
      // pointer jump: a stable hop already implies labels are constant
      // across every edge (no change means min-neighbor-label >= own on
      // both endpoints, hence equal), i.e. each component is uniformly
      // at its min id — the jump could only re-derive the same frame, so
      // the final iteration used to pay a provably-no-op self-join.
      // Checkpointing the hop also lets the jump's self-join read the
      // materialized blocks twice instead of re-planning the hop twice.
      val hop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("__nl"), col("label"))).as("label"))
        .localCheckpoint()
      converged = hop.filter(col("label") =!= col("__old")).isEmpty
      if (converged) {
        labels = hop.select(col("id"), col("label"))
      } else {
        // pointer jump: follow my label's label (path halving -> doubling
        // reach; with the hop, label reach doubles per iteration)
        labels = hop.as("a")
          .join(hop.select(col("id").as("__lid"), col("label").as("__ll")).as("b"),
            col("a.label") === col("__lid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.label"), coalesce(col("__ll"), col("a.label"))).as("label"))
          .localCheckpoint()
        i += 1
      }
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIter iterations; raise maxIter")
    labels
  }

  /** Drop every non-representative member of each near-dup cluster (keep
    * the smallest id); rows never paired are kept untouched.
    */
  def dropDupClusterMembers(df: DataFrame, idCol: String, pairs: DataFrame,
                            maxDriverEdges: Long = defaultMaxDriverEdges): DataFrame = {
    val nonReps = dupClusters(pairs, maxDriverEdges = maxDriverEdges)
      .filter(col("id") =!= col("label")).select("id")
    df.join(nonReps, df(idCol) === nonReps("id"), "left_anti")
  }

  /** The id-level answer sheet of a fuzzy dedup: every surviving doc id
    * with WHY it survived — `unique` (never entered a verified near-dup
    * pair) or `canonical` (the min-id representative its cluster keeps).
    * This is [[dropDupClusterMembers]]'s keep-set made inspectable: the
    * split between the two kinds is the dedup's effect size, and the
    * canonical list is what a curation report shows per cluster.
    * Labels come from [[dupClusters]] (connected components over the
    * verified pairs); the join against the corpus is id⋈id — broadcast
    * when the paired set is small (the usual case: near-dup clusters are
    * a sliver of the corpus), never wider than one exchange of ids.
    */
  def fuzzySurvivors(df: DataFrame, idCol: String, pairs: DataFrame,
                     maxDriverEdges: Long = defaultMaxDriverEdges): DataFrame = {
    // rename label columns before the join: idCol may itself be "id"
    val labels = dupClusters(pairs, maxDriverEdges = maxDriverEdges)
      .select(col("id").as("__sid"), col("label").as("__label"))
    df.select(col(idCol))
      .join(labels, col(idCol) === col("__sid"), "left")
      .filter(col("__label").isNull || col("__label") === col(idCol))
      .select(col(idCol),
        when(col("__label").isNull, lit("unique")).otherwise(lit("canonical")).as("kind"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup pairs: SRP-LSH buckets → exact cosine within
    * bucket → pairs ≥ threshold. Same candidate-then-verify shape as
    * MinHash, on the vector column. For CLOSURE consumers prefer
    * [[srpSpanningEdges]] (identical components, linear edge list — see
    * [[minhashNearDups]]'s note).
    */
  /** The candidate-GENERATION stage of [[embeddingNearDups]] alone: the
    * SRP bucket self-join's (id1, id2) pairs, no scoring. Materializing
    * this makes the verify stage (exact cosine ≥ τ) replayable by an
    * independent engine over the identical pair set — the e2 oracle
    * pattern, mirroring [[minhashCandidatePairs]]/d13 for the text path.
    */
  def srpCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        nPlanes: Int = 0, maxDim: Int = 512): DataFrame = {
    val planes = Similarity.resolvePlanes(df, nPlanes)
    val v = df.select(col(idCol), Similarity.toDouble(col(vecCol)).as("__v"))
      .withColumn("__bucket", Similarity.srpBucket(col("__v"), planes, maxDim = maxDim))
    val l = v.select(col("__bucket"), col(idCol).as("id1"))
    val r = v.select(col("__bucket"), col(idCol).as("id2"))
    l.join(r, Seq("__bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact cosine for an explicit pair table (the verify stage of the
    * embedding near-dup pipeline, decoupled from candidate generation):
    * joins the vectors back by id — only the candidate pairs pay the
    * O(dim) scoring, and the pair table is narrow (two longs) on the
    * shuffle. Rounded to 4 decimals like [[embeddingNearDups]].
    */
  def cosineForPairs(df: DataFrame, pairs: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val v = df.select(col(idCol), Similarity.toDouble(col(vecCol)).as("__v"))
    pairs.select("id1", "id2")
      .join(v.select(col(idCol).as("id1"), col("__v").as("__v1")), Seq("id1"))
      .join(v.select(col(idCol).as("id2"), col("__v").as("__v2")), Seq("id2"))
      .withColumn("cos", round(org.apache.spark.sql.graft.VectorFunctions.cosineNative(col("__v1"), col("__v2")), 4))
      .select("id1", "id2", "cos")
  }

  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nPlanes: Int = 0,
                        maxDim: Int = 512): DataFrame = {
    // nPlanes <= 0 auto-sizes as log2(N/target) (Similarity.autoPlanes):
    // for a bucket SELF-join the stakes are quadratic — per-bucket work
    // is (N/2^p)², so a FIXED plane count blows up as N² while constant
    // occupancy keeps total verify work ~N·occ/2
    val planes = Similarity.resolvePlanes(df, nPlanes)
    val v = df.select(col(idCol), Similarity.toDouble(col(vecCol)).as("__v"))
      .withColumn("__bucket", Similarity.srpBucket(col("__v"), planes, maxDim = maxDim))
    val l = v.select(col("__bucket"), col(idCol).as("id1"), col("__v").as("__v1"))
    val r = v.select(col("__bucket"), col(idCol).as("id2"), col("__v").as("__v2"))
    l.join(r, Seq("__bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", round(org.apache.spark.sql.graft.VectorFunctions.cosineNative(col("__v1"), col("__v2")), 4))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos").distinct()
  }

  // ----------------------------------------- spanning-edge reduction

  /** Spark `round(x, 4)` replicated for the local (in-task) verify path:
    * org.apache.spark.sql.catalyst.expressions.Round on DoubleType is
    * BigDecimal(valueOf(x)).setScale(4, HALF_UP) with a NaN/Inf
    * passthrough — reproduced digit-for-digit so a spanning edge's
    * threshold decision is bit-identical to the join-based verify's
    * `round(sim, 4) >= τ` (and therefore to the DuckDB replay the d13/e2
    * oracles already prove agrees with those expressions).
    */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** CosineSimilarity (o.a.s.sql.graft) replicated locally: same
    * accumulation order over min-length prefix, null element or zero
    * norm → null (no edge). Bit-identical to `cosineNative` on the same
    * doubles, so spanning edges are exactly the pairs the join-based
    * verify would keep.
    */
  private def cosineLocal(a: Seq[Any], b: Seq[Any]): java.lang.Double = {
    if (a == null || b == null) return null
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val ai = a(i); val bi = b(i)
      if (ai == null || bi == null) return null
      val x = ai.asInstanceOf[Double]; val y = bi.asInstanceOf[Double]
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Spanning forest of one bucket's verified-similarity subgraph:
    * path-compressed union-find over the (id-sorted, deterministic)
    * members; `sim(i, j)` is consulted ONLY for pairs not already
    * connected, and every union emits its witnessing pair as an (i, j)
    * INDEX edge with i < j — since callers present members id-ascending,
    * the mapped-back values land (min-id, max-id). Emitted edges are a
    * subset of the verified pairs with identical connectivity — and on a
    * k-member duplicate clique the verify work itself collapses from
    * O(k²) similarity evaluations to O(k) (plus O(k²) O(α) find()
    * probes): once the clique is connected, remaining pairs
    * short-circuit before scoring. Index-valued (not id-valued) so
    * callers can carry ids of ANY type — casting ids to long silently
    * nulled string/decimal ids (ADVICE r16).
    */
  private[graft] def spanningForestIndexEdges(n: Int)
                                      (sim: (Int, Int) => Boolean): Iterator[(Int, Int)] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val ri = find(i); val rj = find(j)
        if (ri != rj && sim(i, j)) {
          parent(math.max(ri, rj)) = math.min(ri, rj)
          out += ((i, j))
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** Connectivity-only reduction of [[embeddingNearDups]] for CLOSURE
    * consumers ([[dupClusters]] / [[fuzzySurvivors]] — the e3/d12/d14
    * shape): instead of materializing every verified intra-bucket pair
    * (which grows ~dup-rate² — each group of k mutual near-dups is a
    * k-clique, the one measured super-linear term in the ×100 probe,
    * docs/SCALE_PROBE.md e3 51.2×), emit a per-bucket SPANNING FOREST of
    * the verified subgraph: ≤ members-1 edges per bucket, each a genuine
    * `round(cos,4) ≥ τ` pair (so the edge list replays under the same
    * verify oracle as the clique form). Union-of-spanning-forests
    * preserves the union graph's connectivity exactly — any clique-pair
    * path rewrites edge-by-edge into forest paths — so closure labels,
    * and therefore the survivor set, are IDENTICAL to the all-pairs
    * form (gated in DedupSpec). Pair-output operators (e1/e2/d13) keep
    * the clique form: there the pairs ARE the result.
    *
    * Shape: one shuffle of (id, vec) on the bucket key, collect_list per
    * bucket (memory O(occupancy·dim) per bucket — bound it with
    * `bucketCap` on adversarial corpora; 0 = uncapped to mirror
    * [[embeddingNearDups]]), local union-find, edges out. The verify
    * compute inside a duplicate-heavy bucket is near-LINEAR in members
    * (see [[spanningForestEdges]]) where the join form paid one cosine
    * per clique pair.
    */
  def srpSpanningEdges(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nPlanes: Int = 0, maxDim: Int = 512,
                       bucketCap: Int = 0): DataFrame = {
    val planes = Similarity.resolvePlanes(df, nPlanes)
    val idType = df.schema(idCol).dataType
    val grouped = df
      .select(col(idCol).as("__id"),
              Similarity.toDouble(col(vecCol)).as("__v"))
      .withColumn("__bucket", Similarity.srpBucket(col("__v"), planes, maxDim = maxDim))
      .filter(col("__bucket").isNotNull) // null vec never joins in the clique form either
      .groupBy(col("__bucket"))
      // sort_array orders members id-ascending (struct ordering leads on
      // __id, ids unique) — the deterministic order the forest's edge
      // choice and the id1 ≤ id2 orientation rely on. The id rides in
      // its ORIGINAL type end to end: a long cast here silently nulled
      // string/decimal ids (ADVICE r16)
      .agg(sort_array(collect_list(struct(col("__id"), col("__v")))).as("__m"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id1", idType),
      org.apache.spark.sql.types.StructField("id2", idType)))
    grouped.flatMap { row =>
      val m = row.getSeq[org.apache.spark.sql.Row](1)
      if (bucketCap > 0 && m.length > bucketCap) Iterator.empty
      else {
        val arr = m.toArray
        val vecs = arr.map(_.getSeq[Any](1))
        spanningForestIndexEdges(arr.length) { (i, j) =>
          val c = cosineLocal(vecs(i), vecs(j))
          c != null && round4(c) >= threshold
        }.map { case (i, j) => org.apache.spark.sql.Row(arr(i).get(0), arr(j).get(0)) }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** The text twin of [[srpSpanningEdges]]: per-(band, bucket) spanning
    * forests of the exact-Jaccard-verified subgraph, for closure
    * consumers of [[minhashNearDups]] (d12/d14). Same LSH geometry and
    * occupancy-cap semantics as [[minhashCandidatePairs]] (over-cap
    * buckets drop whole, default [[defaultBucketCap]]) so the candidate
    * UNIVERSE is identical — which is what makes the closure labels
    * provably equal to the clique form's. A pair colliding in several
    * bands may emit from each; `.distinct()` collapses that (the edge
    * list is O(members·bands) worst case, narrow longs).
    *
    * The shingle sets ride the (band, bucket) shuffle once per band —
    * heavier per-row than the clique form's candidate join, but the
    * clique form then shuffles TWO shingle sets per verified pair,
    * which on a dup-heavy corpus (pairs ~ dup-rate²) dwarfs it. The
    * exchanged representation is the 64-bit per-shingle xxhash, not the
    * gram strings (guide §2.3 — shuffle fewer bytes): Jaccard over the
    * hashed sets equals Jaccard over the strings except on a 64-bit
    * collision inside one compared pair (~|a∪b|²/2⁶⁵ — orders of
    * magnitude below the LSH banding's own false-negative rate), the
    * per-band payload shrinks from ~20-40 bytes to 8 per shingle, and
    * the per-bucket verify intersects Long sets instead of re-hashing
    * strings.
    */
  def minhashSpanningEdges(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, shingleSize: Int = 3,
                           bands: Int = 8, rowsPerBand: Int = 4,
                           bucketCap: Int = defaultBucketCap): DataFrame = {
    val idType = df.schema(idCol).dataType
    // bands and payload hashes in ONE expression pass: the payload hash
    // IS minhash's h1 (same seed), so the standalone pair re-hashed
    // every gram a third time — the fused struct is bit-identical to
    // shingleHashes + lshBandBuckets over the same input
    val grouped = df
      .select(col(idCol).as("__id"),
              Text.wordShingles(col(textCol), shingleSize).as("__sh"))
      .select(col("__id"), org.apache.spark.sql.graft.HashFunctions
        .lshBandsAndHashes(col("__sh"), bands, rowsPerBand).as("__bh"))
      .select(col("__id"), col("__bh").getField("hashes").as("__hh"),
        posexplode(col("__bh").getField("bands")).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      // id-ascending members in the id's ORIGINAL type — same rationale
      // as [[srpSpanningEdges]] (a long cast nulled string ids)
      .agg(sort_array(collect_list(struct(col("__id"), col("__hh")))).as("__m"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id1", idType),
      org.apache.spark.sql.types.StructField("id2", idType)))
    grouped.flatMap { row =>
      val m = row.getSeq[org.apache.spark.sql.Row](2)
      if (bucketCap > 0 && m.length > bucketCap) Iterator.empty
      else {
        val arr = m.toArray
        val sets = arr.map(_.getSeq[Long](1).toSet)
        spanningForestIndexEdges(arr.length) { (i, j) =>
          // ngramJaccard replica: |a∩b| / |a∪b|, union 0 → null (no edge)
          val union = (sets(i) union sets(j)).size
          union != 0 &&
            round4(sets(i).intersect(sets(j)).size.toDouble / union) >= threshold
        }.map { case (i, j) => org.apache.spark.sql.Row(arr(i).get(0), arr(j).get(0)) }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema)).distinct()
  }
}
