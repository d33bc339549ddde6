package graft
package query

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

import QuerySupport._

/** The `e` family: embedding near-duplicates and semantic dedup. */
private[graft] object EmbeddingQueries {

  val family: Family = Family("e", "embedding near-dup + semantic dedup",
    impl = "graft.dedup.Dedup (SRP path)",
    specs = "DedupSpec", queries = Seq(
    // auto-sized planes (log₂(N/125), floor 4): the bucket SELF-join's
    // per-bucket cost is quadratic in occupancy, so a fixed plane count
    // is the worst scale liability of the near-dup family
    Query("e1_embedding_neardups", (s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.2, maxDim = 64),
      RowsOnly("SRP-bucket-keyed candidate pairs")),

    // The embedding near-dup VERIFY stage, oracled end-to-end (the e-path
    // twin of d13): candidate generation is SRP-hash-keyed (rows-only by
    // nature, like e1), but once the Spark-produced pair set is dumped,
    // exact-cosine-≥-τ over it is replayable in SQL — DuckDB rescores the
    // IDENTICAL pairs with list_cosine_similarity (the s1-proven exact
    // comparison) and the output hash-matches.
    // plan: the verified pairs ride the SRP bucket shuffle; exact cosine only on bucket-blocked candidates
    Query("e2_embedding_verified_pairs", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cands = dumpedCandidates(s, "e2", d,
        Dedup.srpCandidatePairs(emb, "vec_id", "embedding", maxDim = 64))
      Dedup.cosineForPairs(emb, cands, "vec_id", "embedding")
        .filter(col("cos") >= 0.2)
    },
      // replays the embedding verify stage over e2's dumped candidate set:
      // exact cosine in double (list_cosine_similarity on float→double
      // casts — the same comparison the s1 oracle hash-matches), rounded
      // to 4 decimals, thresholded on the ROUNDED value like the Spark side.
      DumpReplay(dir => s"""WITH c AS (SELECT id1, id2
        |  FROM '${candidatesPath("e2", dir)}/*.parquet'),
        |e AS (SELECT vec_id,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings)
        |SELECT c.id1, c.id2,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.2""".stripMargin)),

    // SemDeDup-shaped semantic dedup survivors: cosine-near-dup pairs →
    // connected components → keep min-id canonical per cluster + all
    // never-paired vectors (the embedding twin of d14). Self-contained
    // like d14: the query dumps its own SRP candidate set; the oracle
    // rebuilds labels by recursive closure over that dump (cosine ≥ τ
    // verify) and applies the keep rule.
    // Round 16: the closure input is the per-bucket SPANNING FOREST of
    // the verified subgraph (srpSpanningEdges), not the clique pair set —
    // identical survivors (union-of-forests preserves connectivity;
    // DedupSpec parity gate) but closure input LINEAR in members where
    // the clique form grew ~dup-rate² (the one super-linear ×100 row,
    // docs/SCALE_PROBE.md e3). Every dumped edge is still a genuine
    // round(cos,4) ≥ τ pair, so the oracle's verify+closure replay over
    // the dump is unchanged.
    Query("e3_semantic_survivors", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cands = dumpedCandidates(s, "e3", d,
        Dedup.srpSpanningEdges(emb, "vec_id", "embedding", threshold = 0.2, maxDim = 64))
      val pairs = Dedup.cosineForPairs(emb, cands, "vec_id", "embedding")
        .filter(col("cos") >= 0.2)
      Dedup.fuzzySurvivors(emb, "vec_id", pairs.select(col("id1"), col("id2")))
    },
      // e3's OWN dumped candidates → cosine verify → recursive closure →
      // the keep rule, applied to the embeddings corpus (the e-path twin
      // of d14's oracle).
      DumpReplay(dir => s"""WITH RECURSIVE c AS (SELECT id1, id2
        |  FROM '${candidatesPath("e3", dir)}/*.parquet'),
        |e AS (SELECT vec_id,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |v AS (SELECT c.id1, c.id2
        |  FROM c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2
        |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.2),
        |ed AS (SELECT id1 AS src, id2 AS dst FROM v
        |       UNION ALL SELECT id2, id1 FROM v),
        |n AS (SELECT DISTINCT src AS id FROM ed),
        |reach(id, r) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT ed.src, reach.r FROM ed JOIN reach ON reach.id = ed.dst),
        |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
        |SELECT em.vec_id,
        |  CASE WHEN lab.label IS NULL THEN 'unique' ELSE 'canonical' END AS kind
        |FROM embeddings em LEFT JOIN lab ON lab.id = em.vec_id
        |WHERE lab.label IS NULL OR lab.label = em.vec_id""".stripMargin))))
}
