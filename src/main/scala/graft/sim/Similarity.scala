package graft.sim

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorFunctions

/** Embedding similarity search (north-star extension, repo BASELINE.json):
  * cosine top-k over an `array<float>` column.
  *
  * Two paths:
  *  - brute force: broadcast the (small) query set against the full corpus,
  *    one scan, per-query top-k. Exact; O(|queries|·|corpus|) multiplies but
  *    zero corpus shuffle — at 100 TB the scan dominates and this is the
  *    correct baseline as long as |queries| is broadcast-able.
  *  - LSH (signed random projection): deterministic hash-derived hyperplanes
  *    bucket vectors by sign pattern; candidates = same bucket; exact cosine
  *    re-rank inside buckets. Sub-linear candidate generation, one shuffle
  *    on the bucket key. IVF would swap the bucketer for k-means centroids —
  *    same join shape.
  *
  * All vector math is built-in higher-order functions (`zip_with` +
  * `aggregate`) over doubles — codegen'd, no UDF, sequential sum order =>
  * deterministic and DuckDB-matchable.
  */
object Similarity {

  /** array<float> → array<double> (compute in double; float accumulation
    * drifts and diverges from any oracle).
    */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either side has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b); val na = l2Norm(a); val nb = l2Norm(b)
    when(na === 0 || nb === 0, lit(null)).otherwise(d / (na * nb))
  }

  /** Pre-normalize an embedding column to unit length (null-safe: zero
    * vectors stay zero). For repeated-query workloads this converts every
    * cosine into a plain dot product — normalize the 100 TB corpus ONCE at
    * ingest, then each search pass skips both norms.
    */
  def withUnitNorm(df: DataFrame, vecCol: String, outCol: String = "unit_embedding"): DataFrame =
    df.withColumn("__norm", sqrt(VectorFunctions.dotNative(col(vecCol), col(vecCol))))
      .withColumn(outCol,
        when(col("__norm") === 0.0, toDouble(col(vecCol)))
          // zip_with against a repeated-norm array instead of a lambda
          // CAPTURE of __norm: projection collapse inlines captured
          // aliases into the (interpreted) lambda, re-deriving the norm
          // per element — O(dim²) per row; as an argument it evaluates
          // once per row
          .otherwise(zip_with(col(vecCol), array_repeat(col("__norm"), size(col(vecCol))),
            (x, n) => x.cast("double") / n)))
      .drop("__norm")

  /** Top `n` candidate ids per query by (__approx desc, neighbor_id asc) —
    * the shared int8-prefilter stage of every rerank path, as the same
    * bounded heap as [[rankTopK]] (the window twin sorts the full
    * candidate set per partition just to keep `rerank` rows).
    */
  private def topIdsPerQuery(scored: DataFrame, queryIdCol: String, n: Int): DataFrame =
    scored.groupBy(col(queryIdCol))
      .agg(org.apache.spark.sql.graft.TopKFunctions
        .topKRows(struct(col("__approx"), col("neighbor_id")), n, Seq(true, false)).as("__top"))
      .select(col(queryIdCol),
        explode(col("__top").getField("neighbor_id")).as("neighbor_id"))

  /** Shared output contract of every top-k variant: rank per query by
    * (cos desc, neighbor_id asc) — a total order — keep k, round the
    * published cosine. One definition so the three search paths cannot
    * drift apart.
    *
    * Bounded-heap aggregate (`o.a.s.sql.graft.TopKRows`), not a
    * row_number window: the window's `WindowGroupLimitExec` still fully
    * sorts every candidate partition by (query, cos, id) on both sides of
    * the shuffle; the heap keeps k rows per query per task and ships only
    * those. On the brute-force path the candidate set IS the corpus — at
    * 100 TB the difference is a full corpus sort vs a streaming scan.
    * Ranks are identical for any total order (posexplode of the
    * best-first array reproduces row_number).
    */
  private def rankTopK(scored: DataFrame, queryIdCol: String, k: Int): DataFrame =
    scored.groupBy(col(queryIdCol))
      .agg(org.apache.spark.sql.graft.TopKFunctions
        .topKRows(struct(col("cos"), col("neighbor_id")), k, Seq(true, false)).as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")).as(Seq("__pos", "__row")))
      .select(col(queryIdCol), col("__row.neighbor_id").as("neighbor_id"),
              round(col("__row.cos"), 4).as("cos"),
              (col("__pos") + 1).cast("long").as("rank"))

  /** Exact brute-force top-k neighbors for each query vector.
    * `queries` MUST be small (it is broadcast); corpus side streams.
    * Output: (query_id, neighbor_id, cos) with rank ≤ k,
    * tie-break (cos desc, neighbor_id asc) — total order for verification.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(idCol).as(queryIdCol), toDouble(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv"))
    val scored = c.join(broadcast(q), col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("cos", VectorFunctions.cosineNative(col("__qv"), col("__cv")))
    rankTopK(scored, queryIdCol, k)
  }

  /** Signed-random-projection bucket id: `nPlanes` pseudo-random ±1
    * hyperplanes, fully deterministic (seeded), no fitted model to ship.
    * Bit p of the bucket = sign of <v, plane_p>.
    *
    * Native expression (o.a.s.sql.graft.SrpBucket): plane weights derive
    * per (seed, element) from one splitmix64 word whose bit p is plane
    * p's ±1 — one hash + nPlanes add/subs per element, O(1) codegen size.
    * The previous formulation inlined nPlanes·nTables·maxDim literal
    * doubles into the generated code; its one-time codegen dominated the
    * registered query and it fell off the codegen cliff entirely when
    * nPlanes was scaled with the corpus (8 tables × 11 planes ran 2.5×
    * slower than 4 planes at 100× corpus despite 128× fewer candidates).
    *
    * `maxDim` is retained for API stability and ignored — weights are
    * derived for exactly the elements present.
    */
  def srpBucket(v: Column, nPlanes: Int, seed: Int = 42, maxDim: Int = 512): Column =
    VectorFunctions.srpBucketNative(v, nPlanes, seed)

  /** Target SRP bucket occupancy: planes are sized so each of the 2^p
    * buckets holds ~this many vectors. One target serves both the exact
    * and the int8-prefiltered path — measured at the ×100 probe (after
    * the SrpBucketsGenerator removed the inferred-filter double bucket
    * derivation), BOTH paths get monotonically faster as planes grow to
    * this occupancy.
    */
  val srpTargetPerBucket = 125.0

  /** nPlanes ≈ log₂(N / target), floor 4 (the recall-gated test sizing),
    * ceiling 24 (2^24 buckets; SrpBucket's hard limit is 63) —
    * per-bucket occupancy, and therefore candidate count per
    * (query, table), stays ~constant as the corpus grows. The 100 TB
    * failure mode of a FIXED plane count is candidates ∝ N (each bucket
    * dilutes); the cost of a plane is one hash bit per element — O(1)
    * codegen with the native SrpBucket, measured cheaper at ×100 than
    * the diluted fixed-plane run (docs/SCALE_PROBE.md plane-scaling row).
    */
  def autoPlanes(n: Long): Int =
    if (n <= 0) 4
    else math.max(4, math.min(24,
      math.ceil(math.log(n / srpTargetPerBucket) / math.log(2.0)).toInt))

  /** Resolve the SRP plane count: an explicit value wins; ≤ 0 = auto-size
    * from the corpus count (one count job, the [[resolveCells]] pattern).
    */
  private[graft] def resolvePlanes(corpus: DataFrame, nPlanes: Int): Int =
    if (nPlanes > 0) nPlanes else autoPlanes(countRows(corpus))

  /** Row count for auto-sizing, with any caller-added top-level spread
    * repartition peeled first ([[org.apache.spark.sql.graft.PlanUtils]]):
    * counting THROUGH the spread exchange shuffles the whole corpus to
    * produce a number the bare scan answers from metadata.
    */
  private[graft] def countRows(df: DataFrame): Long =
    org.apache.spark.sql.graft.PlanUtils.withoutTopLevelRepartition(df).count()

  /** ANN top-k: SRP-bucket both sides, join on bucket, exact re-rank.
    *
    * `nTables` is the classic LSH OR-amplification: L independent hash
    * tables (different plane seeds); a corpus vector is a candidate if it
    * shares a bucket with the query in ANY table. Per-table collision
    * probability for angle θ is (1-θ/π)^nPlanes, so recall =
    * 1-(1-p^nPlanes)^L — a single table (the pre-gate default) gives
    * p^nPlanes ≈ 6% recall@5 on 64-dim data with weakly-correlated
    * neighbors, which is why the SimilaritySpec recall gate exists.
    * Candidate cost ≈ nTables · |corpus| / 2^nPlanes per query.
    *
    * Scale shape: the corpus side emits its nTables bucket ids map-side
    * (custom generator, no corpus shuffle) and joins the BROADCAST query
    * side; only the (query, candidate) pairs shuffle, for the cross-table
    * dedup and the final per-query rank.
    *
    * nPlanes ≤ 0 auto-sizes from the corpus count ([[autoPlanes]]).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id", nTables: Int = 1,
              maxDim: Int = 512): DataFrame = {
    val planes = resolvePlanes(corpus, nPlanes)
    // maxDim is retained for API stability; the native SrpBucket derives
    // weights per element, so no literal sizing exists anymore.
    // Bucketing is the custom SrpBucketsGenerator, not
    // explode(array(struct(...))): the builtin explode triggers
    // InferFiltersFromGenerate, whose size(...)>0 filter collapses into
    // the scan and re-derives ALL nTables buckets per row a second time —
    // a cost ∝ nPlanes that at the ×100 probe ate the auto-sizing win
    def withBuckets(df: DataFrame, keep: Seq[Column], v: Column): DataFrame =
      df.select(keep :+
        VectorFunctions
          .srpBucketsNative(v, planes, nTables).as(Seq("__t", "__b")): _*)
    val q = withBuckets(
      queries.select(col(idCol).as(queryIdCol), toDouble(col(vecCol)).as("__qv")),
      Seq(col(queryIdCol), col("__qv")), col("__qv"))
    val c = withBuckets(
      corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv")),
      Seq(col("neighbor_id"), col("__cv")), col("__cv"))
    val candidates = c.join(broadcast(q), Seq("__t", "__b"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      // a pair colliding in several tables must score once, not L times
      .dropDuplicates(queryIdCol, "neighbor_id")
    val scored = candidates
      .withColumn("cos", VectorFunctions.cosineNative(col("__qv"), col("__cv")))
    rankTopK(scored, queryIdCol, k)
  }

  /** The two int8 candidate columns, derived from the raw vector in one
    * native pass each: the quantized tinyint array and the score
    * correction max|x|/‖x‖ (0 for the zero vector, whose quantized form
    * is all-zero anyway). The float→double widening is the implicit
    * input cast of the native expressions — no HOF anywhere.
    */
  private[graft] def int8Candidate(v: Column): (Column, Column) = {
    val q = VectorFunctions.int8QuantizeNative(v)
    val sc = when(VectorFunctions.maxAbsNative(v) === 0.0, lit(0.0))
      .otherwise(VectorFunctions.maxAbsNative(v) / sqrt(VectorFunctions.dotNative(v, v)))
    (q, sc)
  }

  /** Integer dot of the quantized pair columns `__qq`·`__qc` — native
    * codegen expression (the HOF `aggregate(zip_with(...))` form pays
    * boxed lambda dispatch per element, on the hottest row stream of the
    * whole search).
    */
  private def int8Dot: Column =
    VectorFunctions.int8DotNative(col("__qq"), col("__qc"))

  /** Exact-cosine rescore of the pruned (query, neighbor) id pairs: two
    * narrow joins back to the full-precision vectors, then the shared
    * top-k contract. cosineNative (norm-invariant, so raw vectors are
    * fine) stays NULL for a degenerate zero vector — the same contract
    * as bruteForceTopK / annTopK, so the int8 variants can't diverge on
    * that edge.
    *
    * Corpus-side reuse: since the SrpBucketsGenerator replaced the
    * builtin explode (no more InferFiltersFromGenerate filter on the
    * candidate branch's scan), the rescore's corpus subtree canonically
    * MATCHES the candidate branch below the bucketing, so when an
    * exchange exists there (e.g. the test tables' repartition) Spark
    * plans a ReusedExchange carrying only (id, vec) — one corpus scan
    * total, visible in docs/plans/s7_ann_int8.txt. Without such an
    * exchange the branch is a fresh map-side scan pruned to (id, vec);
    * either way nothing corpus-sized shuffles for the rescore, and AQE
    * picks the build side by size (tiny corpus at test scale, tiny
    * survivors at corpus scale).
    */
  private def rescoreTopK(survivors: DataFrame, corpusBase: DataFrame, queriesBase: DataFrame,
                          idCol: String, vecCol: String, queryIdCol: String,
                          k: Int): DataFrame = {
    // SubqueryAlias qualifiers (eliminated before optimization, so they
    // cannot perturb exchange-reuse canonicalization) — survivors derives
    // from both bases, so bare dataframe-refs are ambiguous self-joins
    val scored = survivors.as("s")
      .join(corpusBase.as("c"), col("s.neighbor_id") === col(s"c.$idCol"))
      .join(broadcast(queriesBase.as("q")), col(s"s.$queryIdCol") === col(s"q.$idCol"))
      .withColumn("cos",
        VectorFunctions.cosineNative(col(s"q.$vecCol"), col(s"c.$vecCol")))
      .select(col(s"s.$queryIdCol").as(queryIdCol),
        col("s.neighbor_id").as("neighbor_id"), col("cos"))
    rankTopK(scored, queryIdCol, k)
  }

  /** SRP-LSH ANN with an int8 prefilter stage — the standard
    * vector-index compression put to work inside the search path.
    *
    * Symmetric int8 quantization is SCALE-INVARIANT
    * (u_i·127/max|u| = x_i·127/max|x|), so both sides quantize the RAW
    * vectors — no unit-norm pass exists anywhere in these paths.
    * Candidates are scored with an integer dot in the same map stage as
    * the broadcast bucket join; `int8dot(q_q, q_c) · (max|x_c|/‖x_c‖)`
    * orders candidates per query like the approximate cosine (the
    * remaining factor `127²/(max|x_q|·‖x_c‖·…)` reduces to a per-query
    * constant), so the (query, candidate) pair shuffle — the dominant
    * shuffle of the whole search at corpus scale — carries one 8-byte
    * score per pair instead of the full vector (annTopK ships the
    * 8·dim-byte double vector per pair). Only the top `rerank` per query
    * survive, and the exact-cosine rescore joins those nQueries·rerank
    * ids back to the full-precision corpus — a narrow second join
    * instead of exact math on every candidate.
    *
    * All per-row vector math is native codegen ([[VectorFunctions]]).
    * The previous formulation derived a unit vector and quantized it
    * with HOF transforms whose lambdas captured the norm/scale aliases;
    * HOFs are interpreted (CodegenFallback) and projection collapse
    * inlines the captured alias, so the norm — itself a full pass —
    * re-evaluated per ELEMENT: O(dim²) boxed ops per row, measured
    * ~5 ms/row at dim 64 (a 0.6 s search ran in 4 s).
    *
    * Quantization error is ≤ max|x|/254 per element, so the int8
    * ordering only confuses near-ties; `rerank ≫ k` absorbs that
    * (SimilaritySpec gates recall ≥ 0.6 at rerank = 32, k = 5 alongside
    * the counted-comparisons reduction).
    *
    * nPlanes ≤ 0 auto-sizes from the corpus count ([[autoPlanes]]).
    */
  def annTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
                  nPlanes: Int = 0, nTables: Int = 8, rerank: Int = 32,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  queryIdCol: String = "query_id", maxDim: Int = 512): DataFrame = {
    val planes = resolvePlanes(corpus, nPlanes)
    val (q8c, sc) = int8Candidate(col(vecCol))
    val cBase = corpus.select(col(idCol), col(vecCol))
    val qBase = queries.select(col(idCol), col(vecCol))
    // Bucketing via the custom SrpBucketsGenerator (see annTopK — the
    // builtin explode's inferred size()>0 scan filter re-derived every
    // bucket per row). The quantize/scale expressions materialize in a
    // select BELOW the generator select: the analyzer keeps a generator
    // select's other expressions in the projection ABOVE the Generate,
    // where they would re-evaluate once per emitted (table, bucket) row —
    // nTables× redundant O(dim) work per vector (caught in the r7 plan
    // ledger review); as bare attributes they pass through instead.
    def gen(v: Column): Column = VectorFunctions
      .srpBucketsNative(v, planes, nTables).as(Seq("__t", "__b"))
    val c = cBase.select(col(idCol).as("neighbor_id"), q8c.as("__qc"),
        sc.as("__sc"), col(vecCol))
      .select(col("neighbor_id"), col("__qc"), col("__sc"), gen(col(vecCol)))
    val q = qBase.select(col(idCol).as(queryIdCol), q8c.as("__qq"), col(vecCol))
      .select(col(queryIdCol), col("__qq"), gen(col(vecCol)))
    // Score BEFORE the cross-table dedup: the int8 vectors then never
    // shuffle at all (the bucket join is a map-side broadcast join and
    // the score is projected in the same stage), and the pair dedup is a
    // hash-aggregate whose exchange carries one double per distinct pair
    // — dropDuplicates here would instead SortAggregate first(<array>)s
    // and ship the quantized vectors through two exchanges.
    val candidates = c.join(broadcast(q), Seq("__t", "__b"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("__approx", int8Dot * col("__sc"))
      .groupBy(col(queryIdCol), col("neighbor_id"))
      .agg(max(col("__approx")).as("__approx"))
    val survivors = topIdsPerQuery(candidates, queryIdCol, rerank)
    rescoreTopK(survivors, cBase, qBase, idCol, vecCol, queryIdCol, k)
  }

  /** The deduped candidate id pairs of [[annTopKIndexed]] — its exact-
    * rescore input, published separately so a caller can MATERIALIZE the
    * candidate set and replay the rescore over the dump (the d13
    * dump-replay oracle pattern: candidate GENERATION is hash-bucketed
    * and engine-specific, but exact-cosine-rank over a fixed pair set is
    * plain SQL any engine can verify). Same probe shape as the search:
    * broadcast query buckets, DPP-pruned index scan, ids-only output.
    */
  def annCandidatePairsIndexed(idx: SrpIndex.Handle, queries: DataFrame,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               queryIdCol: String = "query_id"): DataFrame = {
    val q = queries
      .select(col(idCol).as(queryIdCol), toDouble(col(vecCol)).as("__qv"))
      .select(col(queryIdCol),
        VectorFunctions
          .srpBucketsNative(col("__qv"), idx.planes, idx.nTables).as(Seq("__t", "__b")))
      .withColumn("__grp", SrpIndex.grpOf(col("__t"), col("__b"), idx.groups))
    idx.buckets.select("neighbor_id", "__t", "__b", "__grp")
      .join(broadcast(q), Seq("__t", "__b", "__grp"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .dropDuplicates(queryIdCol, "neighbor_id")
      .select(col(queryIdCol), col("neighbor_id"))
  }

  /** Exact-cosine rescore + rank of a MATERIALIZED (query, neighbor) id
    * pair set against the full-precision vectors: two narrow joins, then
    * [[rankTopK]]'s shared output contract. This is the replayable VERIFY
    * stage of every ANN path — the registered queries read their own
    * candidate dump back through it, so what they publish is exactly what
    * an external engine recomputes from the same dump (rank on the
    * unrounded cosine with the id tie-break, publish the rounded value —
    * the s1-oracle-proven comparison).
    */
  def exactRerank(pairs: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  queryIdCol: String = "query_id"): DataFrame =
    rescoreTopK(pairs, corpus.select(col(idCol), col(vecCol)),
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, queryIdCol, k)

  /** [[annTopK]] over a persisted [[SrpIndex]] — the pure SEARCH path:
    * plane count, bucket assignments, and the group partitioning all come
    * from the index, so the corpus is never re-bucketed (and never even
    * COUNTED — inline auto-sizing needs a count job per run). The
    * candidate branch reads only (neighbor_id, __t, __b) from the
    * buckets frame, the broadcast probe join carries the partition-group
    * key so dynamic partition pruning drops every unprobed bucket-group
    * at scan time, and the exact cosine joins the deduped candidate ids
    * back to the one-row-per-vector full-precision frame. Emits exactly
    * the rows the inline path emits (same planes/tables/seed → same
    * candidate pairs → same scores; parity gated in SimilaritySpec).
    */
  def annTopKIndexed(idx: SrpIndex.Handle, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val q = queries
      .select(col(idCol).as(queryIdCol), toDouble(col(vecCol)).as("__qv"))
      .select(col(queryIdCol), col("__qv"),
        VectorFunctions
          .srpBucketsNative(col("__qv"), idx.planes, idx.nTables).as(Seq("__t", "__b")))
      .withColumn("__grp", SrpIndex.grpOf(col("__t"), col("__b"), idx.groups))
    val candidates = idx.buckets.select("neighbor_id", "__t", "__b", "__grp")
      .join(broadcast(q), Seq("__t", "__b", "__grp"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      // a pair colliding in several tables must score once, not L times
      .dropDuplicates(queryIdCol, "neighbor_id")
    val scored = candidates
      .join(idx.vectors.select(col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("__cv")), Seq("neighbor_id"))
      .withColumn("cos", VectorFunctions.cosineNative(col("__qv"), col("__cv")))
    rankTopK(scored, queryIdCol, k)
  }

  /** [[annTopKInt8]] over a persisted [[SrpIndex]]: the quantized pair
    * (__qc, __sc) comes straight off the index scan — the inline path's
    * whole-corpus quantize+bucket pass disappears — and the probe join
    * prunes to the probed bucket-groups like [[annTopKIndexed]]. The
    * integer-dot prefilter, pair dedup, prerank window, and top-rerank
    * exact rescore are the inline shapes unchanged (same values → same
    * survivors → same rows; parity gated in SimilaritySpec).
    */
  def annTopKInt8Indexed(idx: SrpIndex.Handle, queries: DataFrame, k: Int,
                         rerank: Int = 32,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         queryIdCol: String = "query_id"): DataFrame = {
    val survivors = annSurvivorsInt8Indexed(idx, queries, rerank, idCol, vecCol, queryIdCol)
    rescoreTopK(survivors, idx.vectors.select(col(idCol), col(vecCol)),
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, queryIdCol, k)
  }

  /** The top-`rerank` int8-prefilter survivors of [[annTopKInt8Indexed]]
    * — its exact-rescore input (id pairs), published for dump-replay
    * oracling like [[annCandidatePairsIndexed]]: the prefilter's
    * SELECTION is integer-dot-keyed and engine-specific, but once the
    * survivor set is materialized, exact-cosine-rank over it is plain
    * SQL.
    */
  def annSurvivorsInt8Indexed(idx: SrpIndex.Handle, queries: DataFrame,
                              rerank: Int = 32,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              queryIdCol: String = "query_id"): DataFrame = {
    val (q8c, _) = int8Candidate(col(vecCol))
    val qBase = queries.select(col(idCol), col(vecCol))
    // quantize materializes BELOW the generator select (attribute
    // pass-through — same placement rule as annTopKInt8)
    val q = qBase.select(col(idCol).as(queryIdCol), q8c.as("__qq"), col(vecCol))
      .select(col(queryIdCol), col("__qq"),
        VectorFunctions
          .srpBucketsNative(col(vecCol), idx.planes, idx.nTables).as(Seq("__t", "__b")))
      .withColumn("__grp", SrpIndex.grpOf(col("__t"), col("__b"), idx.groups))
    val candidates = idx.buckets
      .join(broadcast(q), Seq("__t", "__b", "__grp"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("__approx", int8Dot * col("__sc"))
      .groupBy(col(queryIdCol), col("neighbor_id"))
      .agg(max(col("__approx")).as("__approx"))
    topIdsPerQuery(candidates, queryIdCol, rerank)
  }

  /** nCells ≈ √N — the classic IVF balance point: each of the √N cells
    * holds ~√N vectors, so a probe scans nProbes·√N candidates instead of
    * a fixed fraction of the corpus (a STATIC cell count means every
    * probe scans N/nCells — at 100 TB an "index" that reads 1/16th of the
    * corpus per query is a scan with extra steps). Floor 16 keeps tiny
    * test corpora partitioned like the fixed default used to; ceiling
    * 4096 bounds the centroid matrix the tasks ship (4096 × dim 1024
    * doubles = 32 MB) and the O(nCells·dim) per-row assignment loop —
    * past it, shard the corpus and give each shard its own quantizer
    * (the persisted-index territory of [[graft.sink.BucketedMirror]]).
    */
  def autoCells(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** nProbes ≈ √nCells/2 (= N^(1/4)/2 under [[autoCells]]): probes grow
    * with the cell count but the probed FRACTION nProbes/nCells shrinks
    * as 1/√nCells — candidate work per query is nProbes·N/nCells ≈
    * N^(3/4)/2, sublinear, while recall holds because finer cells put
    * the true neighbors in the first few probes (measured in
    * docs/SCALE_PROBE.md: recall column at ×100). Floor 2 matches the
    * old fixed default.
    */
  def autoProbes(nCells: Int): Int =
    math.max(2, math.ceil(math.sqrt(nCells.toDouble) / 2.0).toInt)

  /** Resolve (nCells, nProbes): explicit values win; 0 = auto-size from
    * the corpus count (one count job — against parquet that is a
    * metadata read, negligible next to the search itself).
    */
  private def resolveCells(corpus: DataFrame, nCells: Int, nProbes: Int): (Int, Int) = {
    val cells = if (nCells > 0) nCells else autoCells(countRows(corpus))
    val probes = if (nProbes > 0) nProbes else autoProbes(cells)
    (cells, probes)
  }

  /** IVF ANN with the same int8 prefilter as [[annTopKInt8]]: cell
    * assignment is cosine-based and therefore norm-invariant, so it runs
    * directly on the raw vectors (same expression as [[ivfTopK]]); the
    * cell join's corpus side carries the 1-byte quantized form,
    * candidates are ranked by the integer dot, and only `rerank` per
    * query reach the exact rescore. A corpus vector lives in exactly one
    * cell and a query probes distinct cells, so no pair dedup is needed —
    * the prefilter window is the only pair-stream shuffle, and it is
    * projected down to (query, neighbor, score) before the exchange.
    *
    * nCells/nProbes default to 0 = auto-sized ([[autoCells]] /
    * [[autoProbes]]): √N cells, N^(1/4)/2 probes.
    */
  def ivfTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
                  nCells: Int = 0, nProbes: Int = 0, kmeansIters: Int = 0,
                  rerank: Int = 32,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  queryIdCol: String = "query_id"): DataFrame = {
    val (cells, probes) = resolveCells(corpus, nCells, nProbes)
    val cents = kmeansCentroids(corpus, cells, kmeansIters, idCol, vecCol)
      .map(_.toSeq).toSeq
    ivfTopKInt8Assigned(assignCells(corpus, cents, idCol, vecCol), cents,
      queries, k, probes, rerank, idCol, vecCol, queryIdCol)
  }

  /** The IVF index frame of a corpus: the input columns plus the int8
    * candidate pair (__qc quantized vector, __sc score correction) and
    * the assigned Voronoi cell — everything the int8 search path needs,
    * derived in ONE map-side pass. This is the frame
    * [[graft.sim.IvfIndex]] persists so the assignment scan (O(N·nCells·
    * dim), the dominant cost of an end-to-end run) is paid once per
    * corpus instead of once per query batch.
    */
  def assignCells(corpus: DataFrame, cents: Seq[Seq[Double]],
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (q8c, sc) = int8Candidate(col(vecCol))
    corpus.select(col(idCol), col(vecCol), q8c.as("__qc"), sc.as("__sc"),
      VectorFunctions.nearestCellsNative(col(vecCol), cents, 1).getItem(0).as("__cell"))
  }

  /** [[ivfTopKInt8]] over a pre-assigned corpus (columns: idCol, vecCol,
    * __qc, __sc, __cell — the [[assignCells]] / [[IvfIndex]] frame):
    * the pure SEARCH path. nProbes ≤ 0 auto-sizes from the centroid
    * count. When the assigned frame is the persisted cell-partitioned
    * index, the broadcast cell join lets dynamic partition pruning drop
    * every unprobed cell at scan time — at 100 TB the scan reads
    * nProbes·|queries| cells, not the corpus.
    */
  def ivfTopKInt8Assigned(assigned: DataFrame, cents: Seq[Seq[Double]],
                          queries: DataFrame, k: Int,
                          nProbes: Int = 0, rerank: Int = 32,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          queryIdCol: String = "query_id"): DataFrame = {
    val survivors = ivfSurvivorsInt8Assigned(assigned, cents, queries,
      nProbes, rerank, idCol, vecCol, queryIdCol)
    rescoreTopK(survivors, assigned.select(col(idCol), col(vecCol)),
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, queryIdCol, k)
  }

  /** The top-`rerank` int8-prefilter survivors of [[ivfTopKInt8Assigned]]
    * — its exact-rescore input (id pairs), published for dump-replay
    * oracling like [[annSurvivorsInt8Indexed]].
    */
  def ivfSurvivorsInt8Assigned(assigned: DataFrame, cents: Seq[Seq[Double]],
                               queries: DataFrame,
                               nProbes: Int = 0, rerank: Int = 32,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               queryIdCol: String = "query_id"): DataFrame = {
    val probes = if (nProbes > 0) nProbes else autoProbes(cents.length)
    val (q8c, _) = int8Candidate(col(vecCol))
    val qBase = queries.select(col(idCol), col(vecCol))
    val c = assigned.select(col(idCol).as("neighbor_id"), col("__qc"),
      col("__sc"), col("__cell"))
    // probe cells via the custom generator (exploding the scalar's array
    // let InferFiltersFromGenerate re-run the whole probe selection in
    // the scan filter); quantize materializes BELOW it, attributes pass
    // through (same placement rule as annTopKInt8)
    val q = qBase.select(col(idCol).as(queryIdCol), q8c.as("__qq"), col(vecCol))
      .select(col(queryIdCol), col("__qq"),
        VectorFunctions
          .nearestCellsGenNative(col(vecCol), cents, probes).as("__cell"))
    val scored = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .select(col(queryIdCol), col("neighbor_id"),
        (int8Dot * col("__sc")).as("__approx"))
    topIdsPerQuery(scored, queryIdCol, rerank)
  }

  /** The candidate id pairs of [[ivfTopKAssigned]] — the probed-cell
    * join's output, its exact-rescore input, published for dump-replay
    * oracling like [[annCandidatePairsIndexed]]. A corpus vector lives in
    * exactly one cell and a query probes distinct cells, so the pairs are
    * already unique — no dedup stage.
    */
  def ivfCandidatePairsAssigned(assigned: DataFrame, cents: Seq[Seq[Double]],
                                queries: DataFrame, nProbes: Int = 0,
                                idCol: String = "vec_id", vecCol: String = "embedding",
                                queryIdCol: String = "query_id"): DataFrame = {
    val probes = if (nProbes > 0) nProbes else autoProbes(cents.length)
    val c = assigned.select(col(idCol).as("neighbor_id"), col("__cell"))
    val q = queries.select(col(idCol).as(queryIdCol), toDouble(col(vecCol)).as("__qv"))
      .select(col(queryIdCol),
        VectorFunctions
          .nearestCellsGenNative(col("__qv"), cents, probes).as("__cell"))
    c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .select(col(queryIdCol), col("neighbor_id"))
  }

  /** Deterministic sampled centroids, optionally refined with Lloyd
    * iterations: assign (argmax cosine, native [[VectorFunctions
    * .nearestCellsNative]]) → per-cell per-dim mean (posexplode + two-key
    * groupBy — no driver-side vectors until the final nCells×dim collect,
    * which is tiny by construction). Empty cells keep their previous
    * centroid. Every step is deterministic.
    */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Seq[Double]] = {
    var cents: Array[Seq[Double]] = corpus
      .orderBy(col(idCol)).limit(nCells)
      .select(toDouble(col(vecCol)))
      .collect().map(_.getSeq[Double](0))
    val vecs = corpus.select(toDouble(col(vecCol)).as("__v"))
    for (_ <- 1 to iters) {
      val means = vecs
        .withColumn("__cell",
          VectorFunctions.nearestCellsNative(col("__v"), cents.map(_.toSeq).toSeq, 1).getItem(0))
        .select(col("__cell"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("__cell", "pos").agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** IVF (inverted-file) ANN top-k — the centroid-bucketed alternative to
    * SRP-LSH: partition the corpus into `nCells` Voronoi cells around
    * centroid vectors (optionally k-means-refined), search only the
    * `nProbes` cells nearest each query. Train is a tiny driver-side
    * collect (nCells ≈ √N rows), assignment is one broadcast pass over the
    * corpus (argmax cosine, native codegen'd [[VectorFunctions
    * .nearestCellsNative]] — the centroid matrix rides along as a task
    * reference object, never as plan literals), search is one equi-join
    * on cell id + exact re-rank. Corpus shuffles once, on the cell key.
    *
    * nCells/nProbes default to 0 = auto-sized ([[autoCells]] /
    * [[autoProbes]]): √N cells of ~√N vectors each, N^(1/4)/2 probes —
    * candidate work per query ≈ N^(3/4)/2 instead of the fixed-fraction
    * N/nCells a static cell count degrades to.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 0, nProbes: Int = 0, kmeansIters: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id"): DataFrame = {
    val (cells, probes) = resolveCells(corpus, nCells, nProbes)
    val cents = kmeansCentroids(corpus, cells, kmeansIters, idCol, vecCol)
      .map(_.toSeq).toSeq
    val assigned = corpus.select(col(idCol), col(vecCol),
      VectorFunctions.nearestCellsNative(col(vecCol), cents, 1).getItem(0).as("__cell"))
    ivfTopKAssigned(assigned, cents, queries, k, probes, idCol, vecCol, queryIdCol)
  }

  /** [[ivfTopK]] over a pre-assigned corpus (columns: idCol, vecCol,
    * __cell — a projection of the [[assignCells]] / [[IvfIndex]] frame):
    * the exact-scoring SEARCH path. nProbes ≤ 0 auto-sizes from the
    * centroid count.
    */
  def ivfTopKAssigned(assigned: DataFrame, cents: Seq[Seq[Double]],
                      queries: DataFrame, k: Int, nProbes: Int = 0,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      queryIdCol: String = "query_id"): DataFrame = {
    import VectorFunctions.cosineNative
    val probes = if (nProbes > 0) nProbes else autoProbes(cents.length)
    val c = assigned.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("__cv"), col("__cell"))
    // custom generator, not explode-of-array (see ivfTopKInt8Assigned)
    val q = queries.select(col(idCol).as(queryIdCol), toDouble(col(vecCol)).as("__qv"))
      .select(col(queryIdCol), col("__qv"),
        VectorFunctions
          .nearestCellsGenNative(col("__qv"), cents, probes).as("__cell"))
    val scored = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("cos", cosineNative(col("__qv"), col("__cv")))
    rankTopK(scored, queryIdCol, k)
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * vector-index compression step (4× smaller than float32, 8× smaller
    * than the double compute form): per vector, `scale = max(|x|)` and
    * `q_i = floor(x_i·127/scale + 0.5)` (half-up; saturates only at the
    * max element by construction). Published as a compact per-vector
    * summary (scale + integer checksums) rather than the raw int array so
    * the result is hash-comparable. Everything is map-side — at 100 TB
    * this is a pure scan+project pass, no shuffle.
    *
    * Determinism: `scale` is a max over float→double casts (bit-exact in
    * any engine); `floor(x·127/scale + 0.5)` is floor over one IEEE
    * multiply+divide+add — identical bits everywhere, unlike `round()`
    * whose half-way tie handling differs between engines (Spark rounds
    * the shortest decimal repr, DuckDB the binary value). Zero vectors
    * quantize to all-zero with scale 0.
    */
  /** The symmetric-int8 contract in readable Column form: per-vector
    * scale and the floor-based half-up quantized array (engine-stable —
    * mirrored by the s6 DuckDB oracle SQL). Production paths all use the
    * native one-pass twin (`VectorFunctions.int8QuantizeNative` /
    * `maxAbsNative`); VectorExpressionsSpec pins the two forms
    * bit-for-bit so this stays the executable specification.
    */
  private[graft] def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x)))

  private[graft] def int8Array(v: Column, scale: Column, elemType: String): Column =
    transform(v, x =>
      when(scale === 0.0, lit(0))
        .otherwise(floor(x * lit(127.0) / scale + lit(0.5))).cast(elemType))

  def int8Quantize(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      // native one-pass quantize/scale (bit-identical to the HOF contract
      // [[int8Scale]]/[[int8Array]], which VectorExpressionsSpec pins):
      // the HOF form's captured-scale lambda re-derived the scale per
      // element once projection collapse inlined it — O(dim²) interpreted
      // ops per row, which at dim 1024 would contradict this operator's
      // pure-scan claim. The summary HOFs below reference only the
      // materialized __q array — linear
      .withColumn("__scale", VectorFunctions.maxAbsNative(col("__v")))
      .withColumn("__q", VectorFunctions.int8QuantizeNative(col("__v")))
      .select(
        col(idCol),
        col("__scale").as("scale"),
        aggregate(col("__q"), lit(0L), (acc, q) => acc + q).as("q_sum"),
        array_min(col("__q")).cast("int").as("q_min"),
        array_max(col("__q")).cast("int").as("q_max"),
        size(filter(col("__q"), q => abs(q) === 127)).cast("long").as("n_saturated"))

  /** Per-label centroid summary over the embedding column: vector mean via
    * posexplode + two-key groupBy (scales to any dimension/cardinality —
    * no driver-side vectors), plus count. SQL-expressible → the oracled
    * variant; [[labelCentroidsTyped]] is the shuffle-light twin.
    */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    val exploded = df.select(col(labelCol), posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
    // order-free mean: decimal(20,10) accumulation (float inputs carry
    // <10 significant decimal digits, so the cast is value-faithful and
    // identical across engines); a plain double avg sums in partition
    // order and drifts in the last digits vs a sequential oracle
    exploded.groupBy(col(labelCol), col("pos"))
      .agg((sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1))).as("mean_x"),
           count(lit(1)).as("n"))
  }

  /** Typed `Aggregator` buffer (sum vector, count): element-wise vector
    * mean with map-side partial aggregation — the shuffle carries ONE
    * (dim-length sum vector, count) per label per partition instead of
    * posexplode's dim × N rows. At 100 TB with dim=1024 that is a ~1000×
    * shuffle-byte reduction; this is the custom-aggregate rung of the
    * extension ladder (Aggregator[IN, BUF, OUT], SURVEY §2.11).
    */
  class VectorMeanAggregator(dim: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {
    override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    override def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
      val (sum, n) = b
      var i = 0
      val m = math.min(dim, v.length)
      while (i < m) { sum(i) += v(i); i += 1 }
      (sum, n + 1)
    }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    override def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0L) Seq.empty else b._1.map(_ / b._2).toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Centroid per label via [[VectorMeanAggregator]]; output one row per
    * label with the full mean vector.
    */
  def labelCentroidsTyped(df: DataFrame, dim: Int, labelCol: String = "label",
                          vecCol: String = "embedding"): DataFrame = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the typed path keys on Int; a silent cast of e.g. string labels
    // would null them and crash the encoder mid-job
    val lt = df.schema(labelCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(lt),
      s"labelCentroidsTyped needs an integral label column, got $lt (use labelCentroids)")
    val agg = new VectorMeanAggregator(dim)
    df.select(col(labelCol).cast("int"), col(vecCol))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("centroid"))
      .toDF(labelCol, "centroid")
  }

  /** One MMR candidate: its 4dp query-cosine plus its (double-cast)
    * vector, carried through the top-kCand heap so the kCand² candidate
    * similarities are computed inside the bounded per-query group.
    */
  private[sim] case class MmrCandRow(query_id: Long, neighbor_id: Long,
                                     cos: Double, vec: Seq[Double])
  private[sim] case class MmrPickRow(query_id: Long, neighbor_id: Long,
                                     mmr_rank: Long, score: Double)

  /** Closure twin of the relational `round(x, 4)` (Spark RoundBase on
    * DoubleType): NaN/Infinity pass through, else shortest-repr
    * BigDecimal + HALF_UP setScale — bit-identical to the expression.
    */
  private def round4(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Closure twin of `round(VectorFunctions.cosineNative(a, b), 4)`:
    * same ascending-index accumulation over the common prefix, same
    * IEEE doubles, same 4dp rounding — so the greedy selector compares
    * the exact floats the former kCand² sim-matrix join produced.
    * (Zero-norm candidates cannot reach the selector: their 4dp
    * query-cosine is null, which the Double decode already rejected in
    * the pre-r22 shape too.)
    */
  private def cos4(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    round4(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** The MMR arg-max order: higher score first, ties on the lower
    * neighbor_id, and a NaN score last — it never displaces a number and
    * any number displaces it.
    */
  private def ranksAbove(score: Double, id: Long, bestScore: Double, bestId: Long): Boolean =
    if (score.isNaN) bestScore.isNaN && id < bestId
    else bestScore.isNaN || score > bestScore || (score == bestScore && id < bestId)

  /** MMR-diversified top-k (Carbonell & Goldstein 1998, Maximal Marginal
    * Relevance): greedily pick k of the kCand exact-cosine candidates,
    * each step maximizing λ·cos(q,c) − (1−λ)·max_{s∈selected} sim(c,s) —
    * the standard redundancy-penalized rerank a retrieval pipeline runs
    * after ANN so the k results aren't k near-copies of one passage.
    *
    * Operator-ladder placement: the greedy step has a SEQUENTIAL data
    * dependence (step i's scores depend on picks 1..i−1), which is not
    * relational — but the dependence is confined to one query's candidate
    * set, which is BOUNDED (kCand rows). So: the corpus-sized vector math
    * stays in the native codegen expressions — exact top-kCand via the
    * bounded heap — and the candidate VECTORS ride the heap into the
    * per-query `flatMapGroups`, which computes the ≤ kCand·k pairwise
    * candidate sims (same ascending-index cosine, same 4dp rounding)
    * alongside the pure control-flow selection (ladder rung (d),
    * justified: groups are O(kCand), the shuffle moves only candidate
    * rows, and millions of queries parallelize across groups). The
    * pre-r22 shape built the sims as a cands⋈cands⋈corpus⋈corpus
    * sim-matrix join + collect_list map — four joins, two extra corpus
    * scans and a kCand²-row shuffle to reunite columns the group already
    * holds (guide §3 join elimination, §2.4).
    *
    * Cross-engine determinism: cos and sims are ROUNDED to 4dp before any
    * MMR arithmetic, so selection compares doubles that are
    * bit-identical in any engine agreeing at 4dp (the s1/e2-proven
    * comparison); ties break on neighbor_id. λ enters as the literal
    * expression λ·a − (1−λ)·b evaluated in IEEE double — the oracle
    * spells the same literals, so the same floats flow.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, kCand: Int, k: Int,
              lambdaRel: Double = 0.7,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("__cv"))
    val cands = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(VectorFunctions.cosineNative(col("__qv"), col("__cv")), 4))
      .groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graft.TopKFunctions
        .topKRows(struct(col("cos"), col("neighbor_id"), col("__cv")), kCand,
          Seq(true, false)).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__row"))
      .select(col("query_id"), col("__row.neighbor_id").as("neighbor_id"),
        col("__row.cos").as("cos"), col("__row.__cv").as("vec"))
    val sp = corpus.sparkSession
    import sp.implicits._
    val mu = 1.0 - lambdaRel
    cands
      .as[MmrCandRow]
      .groupByKey(_.query_id)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy(r => (-r.cos, r.neighbor_id))
        // A lone candidate yields no picks: the pre-r22 sim-matrix join
        // was INNER on (query_id, neighbor_id), so a candidate with no
        // same-query partner never reached the selector.
        if (cs.length < 2) Iterator.empty
        else {
          val vecs = cs.map(_.vec.toArray)
          val taken = new Array[Boolean](cs.length)
          // max 4dp-sim of candidate i to the picks so far; the running
          // max over the same rounded doubles the sim-matrix held, so
          // each step compares the identical floats.
          val maxSim = new Array[Double](cs.length)
          val out = scala.collection.mutable.ArrayBuffer.empty[MmrPickRow]
          while (out.length < k && out.length < cs.length) {
            var best = -1
            var bestScore = 0.0
            var i = 0
            while (i < cs.length) {
              if (!taken(i)) {
                val score =
                  if (out.isEmpty) cs(i).cos
                  else lambdaRel * cs(i).cos - mu * maxSim(i)
                if (best < 0 || ranksAbove(score, cs(i).neighbor_id,
                                           bestScore, cs(best).neighbor_id)) {
                  best = i; bestScore = score
                }
              }
              i += 1
            }
            taken(best) = true
            out += MmrPickRow(qid, cs(best).neighbor_id, out.length + 1L, bestScore)
            val first = out.length == 1
            var j = 0
            while (j < cs.length) {
              if (!taken(j)) {
                val s = cos4(vecs(j), vecs(best))
                if (first || s > maxSim(j)) maxSim(j) = s
              }
              j += 1
            }
          }
          out.iterator
        }
      }
      .toDF()
      .select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
        round(col("score"), 4).as("score"))
  }

  // ------------------------------------------- product quantization

  /** Subspace count for a vector dim: 8-dim subvectors when the dim
    * allows (the standard PQ geometry — d=64 → m=8 codes, 32× smaller
    * than float32), 4-dim as the fallback, one subspace (plain vector
    * quantization) for awkward dims. PQ requires m | dim.
    */
  def autoSubspaces(dim: Int): Int =
    if (dim <= 0) 1
    else if (dim % 8 == 0) dim / 8
    else if (dim % 4 == 0) dim / 4
    else 1

  /** Per-subspace codebook size for a corpus of `n` vectors: 2^(log₂n/2)
    * clamped to [16, 256] — quantization error shrinks with ksub but a
    * codebook needs ~dozens of training points per centroid, and 256 is
    * the byte-code ceiling. 500 vectors → 16, 50 k → 128, ≥65 k → 256.
    */
  def autoCodewords(n: Long): Int = {
    if (n <= 0) return 16
    val bits = 63 - java.lang.Long.numberOfLeadingZeros(n)
    math.min(256, math.max(16, 1 << (bits / 2)))
  }

  /** Train cap: k-means over more rows than this buys no codebook
    * quality (the faiss guidance is ~thousands of points per centroid);
    * above it [[pqTrain]] switches to a deterministic hash sample so
    * the train cost is O(cap), not O(corpus).
    */
  private val pqMaxTrainRows = 65536L

  /** Train PQ codebooks: unit-normalize (so squared L2 ranks exactly as
    * cosine: ‖q−x‖² = 2−2·cos on the unit sphere — the whole family's
    * published metric), slice into `m` subvectors, and run the shared
    * deterministic [[kmeansCentroids]] per subspace. Corpora above
    * [[pqMaxTrainRows]] train on a deterministic xxhash64 row sample —
    * codebook quality saturates long before corpus size, so at 100 TB
    * the train pass reads a bounded sample while encode (one map-side
    * pass) reads everything once.
    *
    * m/ksub ≤ 0 auto-size ([[autoSubspaces]] / [[autoCodewords]]).
    * Returns m × ksub × (dim/m) centroids, driver-held (≤ 256·dim
    * doubles — tiny by construction, like the IVF centroid table).
    */
  def pqTrain(corpus: DataFrame, m: Int = 0, ksub: Int = 0, iters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"
             ): Seq[Seq[Seq[Double]]] = {
    val firstVec = corpus.select(col(vecCol)).limit(1).collect()
    if (firstVec.isEmpty) return Seq.empty
    val dim = firstVec(0).getSeq[Any](0).length
    val subs = if (m > 0) m else autoSubspaces(dim)
    require(dim % subs == 0, s"subspace count $subs must divide dim $dim")
    val dsub = dim / subs
    val n = countRows(corpus)
    // clamp in LONG space: `math.max(n, 1L).toInt` truncates for corpora
    // over Int.MaxValue rows (the 100 TB regime) into a negative/garbage
    // k. Codewords are byte codes, so 256 bounds `wanted` first and the
    // n-clamp can never overflow after that.
    val wanted = math.min(256L, (if (ksub > 0) ksub else autoCodewords(n)).toLong)
    val k = math.min(wanted, math.max(n, 1L)).toInt
    val mod = math.max(1L, n / pqMaxTrainRows)
    val sample =
      if (mod > 1)
        corpus.filter(pmod(xxhash64(col(idCol)), lit(mod)) === 0)
      else corpus
    val unit = withUnitNorm(sample, vecCol, "__unit")
    (0 until subs).map { s =>
      kmeansCentroids(
        unit.select(col(idCol), slice(col("__unit"), s * dsub + 1, dsub).as("__sub")),
        k, iters, idCol, "__sub")
        .map(_.toSeq).toSeq
    }
  }

  /** Encode a corpus to PQ codes: (idCol, __codes array<byte> of m
    * codes). One map-side pass — native [[o.a.s.sql.graft.PqEncode]],
    * codebooks as a task reference object — over the unit-normalized
    * vectors (the [[pqTrain]] geometry). At 100 TB this is the one
    * full-corpus scan of an index build; the persisted code table it
    * feeds ([[PqIndex]]) is m bytes per vector.
    */
  def pqEncode(corpus: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    withUnitNorm(corpus, vecCol, "__unit")
      .select(col(idCol),
        org.apache.spark.sql.graft.PqFunctions
          .pqEncodeNative(col("__unit"), codebooks).as("__codes"))

  /** PQ-ADC candidate generation over a pre-encoded code table: per
    * query, one native LUT (m·ksub exact subspace distances against the
    * unit-normalized query), then a streaming scan of the code table
    * scoring each row with m table lookups, bounded-heap top-`kCand`
    * (smallest approximate distance, ties → lowest id). The scan side
    * touches only (id, m-byte codes) — never embedding bytes — and the
    * query side broadcasts; no shuffle ever carries a vector. Output:
    * (queryIdCol, neighbor_id) candidate pairs for [[exactRerank]],
    * self-matches dropped (the family contract).
    */
  def pqCandidatePairsEncoded(codes: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
                              queries: DataFrame, kCand: Int,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              queryIdCol: String = "query_id"): DataFrame = {
    if (codebooks.isEmpty)
      return queries
        .select(col(idCol).as(queryIdCol), col(idCol).as("neighbor_id"))
        .limit(0)
    val ksub = codebooks.head.length
    val q = withUnitNorm(queries, vecCol, "__unit")
      .select(col(idCol).as(queryIdCol),
        org.apache.spark.sql.graft.PqFunctions
          .pqLutNative(col("__unit"), codebooks).as("__lut"))
    val scored = codes.select(col(idCol).as("neighbor_id"), col("__codes"))
      .join(broadcast(q), col(queryIdCol) =!= col("neighbor_id"))
      // negate: the shared top-k stage keeps LARGEST __approx first and
      // ADC is a distance (smaller = nearer)
      .withColumn("__approx",
        -org.apache.spark.sql.graft.PqFunctions
          .pqAdcNative(col("__lut"), col("__codes"), ksub))
    topIdsPerQuery(scored, queryIdCol, kCand)
  }

  /** End-to-end PQ search (inline, index-free): train → encode →
    * ADC top-`kCand` candidates → exact cosine rerank to `k` on the
    * ORIGINAL vectors — identical output contract to [[annTopK]] /
    * [[ivfTopK]] (query_id, neighbor_id, cos rounded 4dp, rank).
    * Library path for one-shot searches; repeated-query workloads use
    * [[PqIndex.ensure]] + [[pqCandidatePairsEncoded]] so train+encode
    * are paid once per corpus.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, kCand: Int = 64,
             m: Int = 0, ksub: Int = 0, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding",
             queryIdCol: String = "query_id"): DataFrame = {
    val cb = pqTrain(corpus, m, ksub, iters, idCol, vecCol)
    // empty corpus → empty codebooks: short-circuit BEFORE pqEncode
    // (PqEncode requires non-empty books at construction) so the empty
    // contract matches the annTopK/ivfTopK siblings and the indexed path
    if (cb.isEmpty)
      return exactRerank(
        queries.select(col(idCol).as(queryIdCol), col(idCol).as("neighbor_id")).limit(0),
        corpus, queries, k, idCol, vecCol, queryIdCol)
    val codes = pqEncode(corpus, cb, idCol, vecCol)
    val cands = pqCandidatePairsEncoded(codes, cb, queries, kCand, idCol, vecCol, queryIdCol)
    exactRerank(cands, corpus, queries, k, idCol, vecCol, queryIdCol)
  }

  /** IVF-PQ candidate generation — the composed 100 TB search plan: IVF
    * prunes WHICH rows are scanned (each query probes its nearest cells
    * via the broadcast generator join, and the cell-PARTITIONED code
    * table drops unprobed cell directories through dynamic partition
    * pruning — the s8 scan shape), PQ shrinks WHAT each scanned row
    * costs (m code bytes scored by m ADC lookups — the s10 scan shape).
    * Candidate work per query ≈ (probed fraction) × (m bytes/vector);
    * at the auto sizing that is N^(3/4)/2 rows × 32×-compressed reads.
    *
    * `codesByCell` is [[IvfPqIndex.ensure]]'s frame: (idCol, __codes,
    * __cell) with __cell as the partition column. Cell probing uses the
    * RAW query vector against the IVF centroids (cosine is
    * norm-invariant — the s4/s8 quantizer); ADC uses the unit-normalized
    * query against the PQ codebooks (the s10 geometry). Output:
    * (queryIdCol, neighbor_id) pairs for [[exactRerank]].
    */
  def ivfPqCandidatePairs(codesByCell: DataFrame, cents: Seq[Seq[Double]],
                          codebooks: Seq[Seq[Seq[Double]]],
                          queries: DataFrame, kCand: Int, nProbes: Int = 0,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          queryIdCol: String = "query_id"): DataFrame = {
    if (codebooks.isEmpty || cents.isEmpty)
      return queries
        .select(col(idCol).as(queryIdCol), col(idCol).as("neighbor_id"))
        .limit(0)
    val ksub = codebooks.head.length
    val probes = if (nProbes > 0) nProbes else autoProbes(cents.length)
    val c = codesByCell.select(col(idCol).as("neighbor_id"), col("__codes"), col("__cell"))
    // LUT materializes BELOW the probe generator (attribute pass-through,
    // the ivfSurvivorsInt8Assigned placement rule), probe cells via the
    // custom generator — never explode-of-array (InferFiltersFromGenerate
    // would re-run probe selection inside the scan filter)
    val q = withUnitNorm(queries, vecCol, "__unit")
      .select(col(idCol).as(queryIdCol),
        org.apache.spark.sql.graft.PqFunctions
          .pqLutNative(col("__unit"), codebooks).as("__lut"),
        toDouble(col(vecCol)).as("__qv"))
      .select(col(queryIdCol), col("__lut"),
        VectorFunctions
          .nearestCellsGenNative(col("__qv"), cents, probes).as("__cell"))
    val scored = c.join(broadcast(q), Seq("__cell"))
      .filter(col(queryIdCol) =!= col("neighbor_id"))
      .withColumn("__approx",
        -org.apache.spark.sql.graft.PqFunctions
          .pqAdcNative(col("__lut"), col("__codes"), ksub))
    topIdsPerQuery(scored, queryIdCol, kCand)
  }
}
