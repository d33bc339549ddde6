package graft
package query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.analyze.Analytics
import graft.sim.Similarity

import QuerySupport._

/** The `s` family: embedding similarity search. */
private[graft] object SimilarityQueries {

  /** ANN rescore replay over query `q`'s own candidate-pair dump: exact
    * cosine in double over exactly the dumped (query, neighbor) pairs,
    * ranked per query on the UNROUNDED value with the id tie-break —
    * precisely [[graft.sim.Similarity.exactRerank]], which is what the
    * registered query publishes (the s1 oracle proved the full-precision
    * cosine ordering agrees between the engines on these vectors).
    */
  private def annRerankSql(q: String, k: Int, dir: String): String =
    s"""WITH c AS (SELECT query_id, neighbor_id
      |  FROM '${candidatesPath(q, dir)}/*.parquet'),
      |e AS (SELECT vec_id,
      |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings),
      |s AS (SELECT c.query_id, c.neighbor_id,
      |        list_cosine_similarity(qe.v, ne.v) AS cos
      |      FROM c JOIN e qe ON qe.vec_id = c.query_id
      |             JOIN e ne ON ne.vec_id = c.neighbor_id)
      |SELECT query_id, neighbor_id, round(cos, 4) AS cos,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      |FROM s QUALIFY rank <= $k""".stripMargin

  val family: Family = Family("s", "similarity search (brute / SRP / IVF / int8 / MMR)",
    impl = "graft.sim.Similarity, SrpIndex, IvfIndex",
    specs = "SimilaritySpec", queries = Seq(
    Query("s1_brute_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Sql("""WITH q AS (SELECT vec_id AS query_id,
        |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |       FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, round(cos,4) AS cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5""".stripMargin)),

    // Multi-table SRP-LSH (auto-sized planes × 12 tables, native
    // SrpBucket — plane weights derived per element from a splitmix64
    // word, no inlined literals): recall@5 = 0.800 vs brute force on the
    // sf0.01 embeddings, gated by SimilaritySpec's recall floor (0.6;
    // everything is seeded, so the measured recall is exact, not a flake
    // margin). Planes size as log₂(N/125) floored at 4 — identical to
    // the old fixed 4 at the gated test corpora, but per-bucket
    // occupancy (and so candidates per query-table) stays ~constant as
    // the corpus grows instead of diluting ∝ N; a plane costs one hash
    // bit per element (O(1) codegen). Synthetic uniform vectors are
    // LSH's worst case; clustered real embeddings get far better
    // selectivity at the same recall.
    // Searches the persisted SrpIndex (built once per corpus like the
    // IVF index and the bucketed mirrors): the per-run whole-corpus
    // bucket+quantize pass — the dominant ANN cost at 100 TB — moves to
    // the one-time build, the probe scan prunes to the probed
    // bucket-groups via dynamic partition pruning, and the result rows
    // are identical to the inline path (parity + recall gated in
    // SimilaritySpec).
    // ORACLED like d13 as of round 13: the query dumps its (hash-keyed,
    // engine-specific) candidate id pairs and publishes the exact-cosine
    // rescore of the READ-BACK dump, so the rescore+rank stage — plain
    // SQL — is replayed by DuckDB over the identical pair set
    // (list_cosine_similarity + row_number, the s1-proven comparison).
    Query("s2_ann_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.sim.SrpIndex.ensure(s, d, emb, nTables = 12)
      val cands = dumpedCandidates(s, "s2", d,
        Similarity.annCandidatePairsIndexed(idx, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      // dump-replay oracles for the ANN rescore stage (candidate/survivor
      // SELECTION is hash- or integer-dot-keyed and engine-specific; the
      // exact-cosine rank over the dumped pair set is not)
      DumpReplay(dir => annRerankSql("s2", 5, dir))),

    // IVF cell assignment depends on the centroid sample; deterministic
    // but not ANSI-SQL-expressible compactly -> rows-only check, semantics
    // covered by SimilaritySpec. nCells/nProbes auto-size from the corpus
    // count (√N cells, N^(1/4)/2 probes) so the probed fraction SHRINKS
    // as the corpus grows instead of freezing at N/nCells; the assigned,
    // cell-PARTITIONED corpus is a persisted index (IvfIndex, built once
    // per corpus like the j7 bucketed mirror) and the search scan prunes
    // to the probed cells via dynamic partition pruning.
    // cell ASSIGNMENT stays engine-specific (centroid sample), but the
    // rescore stage is oracled via the same dump-replay as s2.
    Query("s4_ivf_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (assigned, cents) = graft.sim.IvfIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s4", d,
        Similarity.ivfCandidatePairsAssigned(assigned, cents, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s4", 5, dir))),

    // incremental SRP (s14): the multi-table LSH index absorbs the same
    // daily batch — bucketing with the PERSISTED geometry is a pure
    // per-row function, so the appended index searches identically to a
    // cold same-geometry build (SimilaritySpec); rescore dump-replayed
    // plan: the candidate scan stays DPP-pruned across both parquet roots (base + append generation)
    Query("s14_srp_append_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.sim.SrpIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), nTables = 12,
        subset = "inc")
      val idx = graft.sim.SrpIndex.append(s, d, 12, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s14", d,
        Similarity.annCandidatePairsIndexed(idx, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s14", 5, dir))),

    // incremental IVF (s13): the persisted index absorbs a daily vector
    // batch by pure centroid assignment — no re-cluster, no corpus
    // re-scan; a replayed batch key overwrites its own generation
    // (idempotent). Searching the appended index == searching a cold
    // same-centroid build over corpus ∪ batch (SimilaritySpec gates the
    // bit equality); the rescore stage is oracled via dump-replay like s4
    // plan: the candidate scan stays DPP-pruned across both parquet roots (base + append generation)
    Query("s13_ivf_append_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, cents) = graft.sim.IvfIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
      val (assigned, _) = graft.sim.IvfIndex.append(s, d, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s13", d,
        Similarity.ivfCandidatePairsAssigned(assigned, cents, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      // s13/s14: same rescore replay as s4/s2 — the append seam is
      // index-side only (the dumps already reflect the appended cells)
      DumpReplay(dir => annRerankSql("s13", 5, dir))),

    // incremental PQ (s15): the compressed code table absorbs a daily
    // vector batch by pure re-encode against the FROZEN codebooks — no
    // re-train, no corpus re-scan; a replayed batch key overwrites its
    // own generation (idempotent), a batch folded by compact() no-ops
    // on the folded keys. Scanning the appended table == scanning a
    // cold same-codebook encode of corpus ∪ batch (SimilaritySpec gates
    // the bit equality); the rescore stage is dump-replay oracled like
    // s10
    // plan: the candidate scan stays code-sized over the base and generation roots
    Query("s15_pq_append_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, cb) = graft.sim.PqIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
      val (codes, _) = graft.sim.PqIndex.append(s, d, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s15", d,
        Similarity.pqCandidatePairsEncoded(codes, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      // s15/s16: the compression-path append rungs — same seam argument
      DumpReplay(dir => annRerankSql("s15", 5, dir))),

    // incremental IVF-PQ (s16): the composed 100 TB layout absorbs the
    // same batch — encode with the frozen PQ codebooks, assign to the
    // frozen IVF centroids, land as one cell-partitioned generation the
    // probe's dynamic partition pruning treats exactly like the base
    // (SimilaritySpec gates layout parity vs the cold composed join).
    // Rescore dump-replay oracled like s11
    // plan: code-sized candidate scan with cell DPP on both the base and generation roots
    Query("s16_ivfpq_append_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, cents, cb) = graft.sim.IvfPqIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
      val (codesByCell, _, _) = graft.sim.IvfPqIndex.append(s, d, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s16", d,
        Similarity.ivfPqCandidatePairs(codesByCell, cents, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s16", 5, dir))),

    // MMR-diversified retrieval: exact top-20 candidates, then greedy
    // λ·relevance − (1−λ)·redundancy selection of 5 — vector math stays
    // in native expressions (4dp-rounded before selection), the
    // sequential greedy runs as typed flatMapGroups over bounded groups.
    // Fully oracled: the candidate set is the exact brute-force top-20
    // (engine-independent), so DuckDB re-derives it and replays the
    // greedy as five unrolled argmax stages.
    Query("s9_mmr_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 8), kCand = 20, k = 5)
    },
      // MMR greedy replay, five UNROLLED argmax stages (a recursive CTE
      // would need window functions in the recursive member): candidates =
      // exact top-20 on the 4dp cosine (engine-independent, re-derived here
      // rather than dumped), every score computed from 4dp inputs with
      // explicit DOUBLE literals so the λ arithmetic is the identical IEEE
      // expression the Scala greedy evaluates.
      Sql("""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
        |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.qv, e.v), 4) AS cos
        |       FROM q JOIN e ON e.vec_id <> q.query_id),
        |cand AS (SELECT query_id, neighbor_id, cos FROM sc
        |         QUALIFY row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) <= 20),
        |pr AS (SELECT a.query_id, a.neighbor_id AS n1, b.neighbor_id AS n2,
        |         round(list_cosine_similarity(e1.v, e2.v), 4) AS sim
        |       FROM cand a JOIN cand b ON a.query_id = b.query_id
        |         AND a.neighbor_id <> b.neighbor_id
        |       JOIN e e1 ON e1.vec_id = a.neighbor_id
        |       JOIN e e2 ON e2.vec_id = b.neighbor_id),
        |s1 AS (SELECT query_id, neighbor_id, cos AS score FROM cand
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |         ORDER BY cos DESC, neighbor_id) = 1),
        |sel1 AS (SELECT query_id, neighbor_id FROM s1),
        |p2 AS (SELECT c.query_id, c.neighbor_id,
        |         CAST(0.7 AS DOUBLE) * c.cos -
        |         (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * max(m.sim) AS score
        |       FROM cand c
        |       JOIN pr m ON m.query_id = c.query_id AND m.n1 = c.neighbor_id
        |       JOIN sel1 s ON s.query_id = m.query_id AND s.neighbor_id = m.n2
        |       WHERE NOT EXISTS (SELECT 1 FROM sel1 x
        |         WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
        |       GROUP BY c.query_id, c.neighbor_id, c.cos),
        |s2 AS (SELECT query_id, neighbor_id, score FROM p2
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, neighbor_id) = 1),
        |sel2 AS (SELECT * FROM sel1 UNION ALL SELECT query_id, neighbor_id FROM s2),
        |p3 AS (SELECT c.query_id, c.neighbor_id,
        |         CAST(0.7 AS DOUBLE) * c.cos -
        |         (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * max(m.sim) AS score
        |       FROM cand c
        |       JOIN pr m ON m.query_id = c.query_id AND m.n1 = c.neighbor_id
        |       JOIN sel2 s ON s.query_id = m.query_id AND s.neighbor_id = m.n2
        |       WHERE NOT EXISTS (SELECT 1 FROM sel2 x
        |         WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
        |       GROUP BY c.query_id, c.neighbor_id, c.cos),
        |s3 AS (SELECT query_id, neighbor_id, score FROM p3
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, neighbor_id) = 1),
        |sel3 AS (SELECT * FROM sel2 UNION ALL SELECT query_id, neighbor_id FROM s3),
        |p4 AS (SELECT c.query_id, c.neighbor_id,
        |         CAST(0.7 AS DOUBLE) * c.cos -
        |         (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * max(m.sim) AS score
        |       FROM cand c
        |       JOIN pr m ON m.query_id = c.query_id AND m.n1 = c.neighbor_id
        |       JOIN sel3 s ON s.query_id = m.query_id AND s.neighbor_id = m.n2
        |       WHERE NOT EXISTS (SELECT 1 FROM sel3 x
        |         WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
        |       GROUP BY c.query_id, c.neighbor_id, c.cos),
        |s4 AS (SELECT query_id, neighbor_id, score FROM p4
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, neighbor_id) = 1),
        |sel4 AS (SELECT * FROM sel3 UNION ALL SELECT query_id, neighbor_id FROM s4),
        |p5 AS (SELECT c.query_id, c.neighbor_id,
        |         CAST(0.7 AS DOUBLE) * c.cos -
        |         (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * max(m.sim) AS score
        |       FROM cand c
        |       JOIN pr m ON m.query_id = c.query_id AND m.n1 = c.neighbor_id
        |       JOIN sel4 s ON s.query_id = m.query_id AND s.neighbor_id = m.n2
        |       WHERE NOT EXISTS (SELECT 1 FROM sel4 x
        |         WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
        |       GROUP BY c.query_id, c.neighbor_id, c.cos),
        |s5 AS (SELECT query_id, neighbor_id, score FROM p5
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, neighbor_id) = 1)
        |SELECT query_id, neighbor_id, CAST(r AS BIGINT) AS mmr_rank,
        |  round(score, 4) AS score
        |FROM (SELECT query_id, neighbor_id, 1 AS r, score FROM s1
        |  UNION ALL SELECT query_id, neighbor_id, 2, score FROM s2
        |  UNION ALL SELECT query_id, neighbor_id, 3, score FROM s3
        |  UNION ALL SELECT query_id, neighbor_id, 4, score FROM s4
        |  UNION ALL SELECT query_id, neighbor_id, 5, score FROM s5)""".stripMargin)),

    // Cross-table join of the two LLM extension tables: documents enriched
    // with their embedding's L2 norm, summarized per source. The norm is
    // computed in double (native codegen dot) and quantized to
    // decimal(20,10) BEFORE the mean so summation is order-free and
    // engine-stable (same discipline as s3). At corpus scale both sides
    // are big: the id equi-join is a sort-merge shuffle on the key unless
    // both tables are bucketed on it (Sinks.writeBucketed), which makes it
    // exchange-free; at test scale AQE broadcasts the smaller side.
    Query("s5_doc_embedding_join", (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        sqrt(org.apache.spark.sql.graft.VectorFunctions.dotNative(
          Similarity.toDouble(col("embedding")),
          Similarity.toDouble(col("embedding")))).as("__norm"))
      docs.join(emb, col("doc_id") === col("vec_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (round(sum(col("__norm").cast("decimal(20,10)")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_norm"),
          (round(sum(col("label").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_label"))
    },
      Sql("""SELECT source, count(*) AS n_docs,
        |  round((CAST(sum(CAST(sqrt(coalesce(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)) AS DECIMAL(20,10))) AS DOUBLE)
        |    / count(*)) * 10000) / 10000.0 + 0.0 AS avg_norm,
        |  round((CAST(sum(CAST(label AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*)) * 10000) / 10000.0 + 0.0 AS avg_label
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY source""".stripMargin)),

    // stable 4-digit rounding (see Analytics.stableMean4): scale before
    // round so the boundary is dyadic, +0.0 normalizes negative zero
    Query("s3_label_centroids", (s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))
        .select(col("label"), col("pos").cast("long").as("pos"),
                (round(col("mean_x") * 10000) / 10000.0 + lit(0.0)).as("mean_x"),
                col("n")),
      Sql("""SELECT label, CAST(i-1 AS BIGINT) AS pos,
        |  round((CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
        |        / count(*)) * 10000) / 10000.0 + 0.0 AS mean_x,
        |  count(*) AS n
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i""".stripMargin)),

    // Symmetric int8 quantization summary (scale + integer checksums of the
    // quantized array): the standard vector-index compression step, published
    // as a hash-comparable per-vector projection. Pure map-side scan — at
    // 100 TB this is one pass, zero shuffle. floor(x+0.5) half-up is chosen
    // over round() because the latter's tie handling differs between engines
    // (see Similarity.int8Quantize doc).
    Query("s6_int8_quantize", (s, d) =>
      Similarity.int8Quantize(Tables.embeddings(s, d)),
      Sql("""WITH v AS (SELECT vec_id,
        |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |     FROM embeddings),
        |s AS (SELECT vec_id, dv,
        |       list_max(list_transform(dv, x -> abs(x))) AS scale FROM v),
        |q AS (SELECT vec_id, scale,
        |       CASE WHEN scale = 0 THEN list_transform(dv, x -> CAST(0 AS INT))
        |            ELSE list_transform(dv, x -> CAST(floor(x * 127.0 / scale + 0.5) AS INT))
        |       END AS qv
        |     FROM s)
        |SELECT vec_id, scale,
        |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
        |  list_min(qv) AS q_min,
        |  list_max(qv) AS q_max,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_saturated
        |FROM q""".stripMargin)),

    // SRP-LSH with the int8 prefilter in the candidate path: quantized
    // 1-byte vectors ride the bucket-join shuffle, integer-dot prefilter,
    // exact rescore only for the top-32 per query. Hash-bucketed like s2
    // -> rows-only driver check; SimilaritySpec gates recall >= 0.6 AND
    // the counted exact-comparison reduction vs the plain SRP path.
    // Shares s2's persisted SrpIndex; the quantized pair (__qc, __sc)
    // rides the index scan instead of a per-run corpus quantize pass.
    // the int8 prefilter's top-32 SELECTION stays engine-specific
    // (integer-dot-keyed), but once the survivor set is dumped, the
    // exact rescore is oracled via the same dump-replay as s2.
    Query("s7_ann_int8", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.sim.SrpIndex.ensure(s, d, emb, nTables = 12)
      val cands = dumpedCandidates(s, "s7", d,
        Similarity.annSurvivorsInt8Indexed(idx, emb.filter(col("vec_id") < 8), rerank = 32))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s7", 5, dir))),

    // IVF with the same int8 prefilter: cell assignment on the raw
    // vectors (cosine is norm-invariant), probed-cell candidates scored
    // by integer dot, top-rerank exact rescore. Centroid-sample dependent
    // like s4 -> rows-only; SimilaritySpec gates recall >= 0.6 and the
    // measured exact-comparison reduction vs plain IVF. Shares s4's
    // persisted auto-sized index (the __qc/__sc columns were assigned in
    // the same build pass); the probe scan prunes to probed cells via
    // dynamic partition pruning.
    // s7's dump-replay oracle pattern over the IVF int8 survivors.
    Query("s8_ivf_int8", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (assigned, cents) = graft.sim.IvfIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s8", d,
        Similarity.ivfSurvivorsInt8Assigned(assigned, cents,
          emb.filter(col("vec_id") < 8), rerank = 16))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s8", 5, dir))),

    // Product quantization (Jégou et al., TPAMI 2011) — the third
    // persisted ANN index and the 100 TB COMPRESSION path: where SRP
    // prunes by hash bucket and IVF by probed cell, PQ shrinks the scan
    // itself to m bytes/vector (32× at d=64/m=8 — a 100 TB embedding
    // column becomes a ~3 TB code scan). Codebooks train ONCE on a
    // bounded deterministic sample, the corpus encodes in one map-side
    // native pass (PqIndex), and each search broadcasts per-query ADC
    // lookup tables against the streaming code table — embedding bytes
    // are never read until the exact rerank of the kCand survivors.
    // Code assignment is k-means-sample dependent like s4 → the
    // candidate SELECTION stays engine-specific, but the dumped
    // survivor set's exact rescore is oracled via the same dump-replay
    // as s2/s4/s7/s8. SimilaritySpec gates recall ≥ 0.6 vs brute force
    // plus encode/ADC kernel parity against their Column-API contracts.
    // plan: the candidate scan reads m-byte codes, never embedding bytes
    Query("s10_pq_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (codes, cb) = graft.sim.PqIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s10", d,
        Similarity.pqCandidatePairsEncoded(codes, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s10", 5, dir))),

    // IVF-PQ — the composed 100 TB search plan (faiss's IVFPQ layout as
    // a cell-partitioned parquet code table): IVF prunes WHICH rows are
    // scanned (probe cells via the broadcast generator join, unprobed
    // cell directories dropped by dynamic partition pruning — the s8
    // scan shape), PQ shrinks WHAT each scanned row costs (m code bytes,
    // m ADC lookups — the s10 scan shape). Candidate work per query ≈
    // N^(3/4)/2 rows × 32×-compressed reads at the auto sizing. The
    // index build reuses the persisted IVF and PQ structures plus one
    // build-time id join to lay codes out by cell. Oracled like the rest
    // of the family: dump-replay exact rescore of the survivor pairs.
    // plan: DPP-prunes to the probed cells, then reads m-byte codes, never embedding bytes
    Query("s11_ivfpq_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (codesByCell, cents, cb) = graft.sim.IvfPqIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s11", d,
        Similarity.ivfPqCandidatePairs(codesByCell, cents, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      DumpReplay(dir => annRerankSql("s11", 5, dir)))))
}
