package graft
package query

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

import QuerySupport._

/** The `d` family: document deduplication: exact, MinHash, SimHash and incremental. */
private[graft] object DedupQueries {

  /** d17's oracle, shared with d18 (same rows by design). */
  private val exactNewSql: String =
    """SELECT doc_id, md5(text) AS content_md5
        |FROM documents WHERE doc_id % 10 = 0
        |  AND md5(text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)""".stripMargin

  /** DuckDB fragments shared by every LSH dump-replay oracle — ONE
    * definition of the 3-gram shingle recipe and the rounded Jaccard
    * expression, so the five oracles built from them (d13/d12/d14/d15/
    * d16) can never silently desynchronize from each other (they mirror
    * d5's literal strings, which the DedupSpec parity pins to the Spark
    * expressions).
    */
  private val duckShingleCte: String =
    """sh AS (SELECT doc_id,
      |  list_distinct(list_transform(
      |    range(1, greatest(len(tok)-3+2, 1)),
      |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS sh
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
      |        FROM documents))""".stripMargin

  private val duckJaccardExpr: String =
    """round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN NULL
      |    ELSE len(list_intersect(a.sh, b.sh))*1.0 /
      |         len(list_distinct(list_concat(a.sh, b.sh))) END, 4)""".stripMargin

  /** Verify-stage replay over query `q`'s own candidate dump: exact
    * n-gram Jaccard over exactly the dumped pairs, threshold on the
    * ROUNDED value — precisely what the Spark side computes.
    */
  private def dumpVerifySql(q: String, dir: String): String =
    s"""WITH c AS (SELECT id1, id2
      |  FROM '${candidatesPath(q, dir)}/*.parquet'),
      |$duckShingleCte,
      |j AS (SELECT c.id1, c.id2,
      |  $duckJaccardExpr AS jaccard
      |  FROM c JOIN sh a ON a.doc_id = c.id1 JOIN sh b ON b.doc_id = c.id2)
      |SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.8""".stripMargin

  /** Recursive-closure CTE stack over query `q`'s verified dump: verify
    * filter → symmetrized edges → reachability; `reach` yields each
    * node's min reachable id (= dupClusters' fixpoint label) to whatever
    * final SELECT the caller appends.
    */
  private def dumpClosureCtes(q: String, dir: String): String =
    s"""WITH RECURSIVE c AS (SELECT id1, id2
      |  FROM '${candidatesPath(q, dir)}/*.parquet'),
      |$duckShingleCte,
      |v AS (SELECT c.id1, c.id2
      |  FROM c JOIN sh a ON a.doc_id = c.id1 JOIN sh b ON b.doc_id = c.id2
      |  WHERE $duckJaccardExpr >= 0.8),
      |e AS (SELECT id1 AS src, id2 AS dst FROM v
      |      UNION ALL SELECT id2, id1 FROM v),
      |n AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)""".stripMargin

  val family: Family = Family("d", "deduplication (exact / MinHash / SimHash / incremental)",
    impl = "graft.dedup.Dedup, LshIndex, HashLedger",
    specs = "DedupSpec, RowsOnlyGateSpec", queries = Seq(
    // Content-hash train/val/test split census: md5-keyed so the oracle
    // (and any other engine) recomputes the identical assignment.
    Query("d7_hash_split", (s, d) =>
      graft.dedup.Dedup.hashSplit(Tables.documents(s, d), "text")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n")),
      Sql("""WITH b AS (SELECT source,
        |    CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM b GROUP BY source, split""".stripMargin)),

    // Weighted source mixing census: down-sample named sources to target
    // mixture fractions, content-hash-keyed (reproducible + duplicate-
    // consistent).
    Query("d8_source_mix", (s, d) =>
      graft.dedup.Dedup.weightedSourceSample(Tables.documents(s, d),
          "source", "text", Map("src0" -> 0.5, "src1" -> 0.1))
        .groupBy("source")
        .agg(count(lit(1)).as("n")),
      Sql("""WITH b AS (SELECT source,
        |    CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 1000000 AS bucket
        |  FROM documents)
        |SELECT source, count(*) AS n FROM b
        |WHERE bucket < (CASE source WHEN 'src0' THEN 500000
        |                            WHEN 'src1' THEN 100000
        |                            ELSE 1000000 END)
        |GROUP BY source""".stripMargin)),

    // Per-source cap census: at most 15 docs per source by content-hash
    // order (unbiased, engine-recomputable) — summarized as kept counts.
    Query("d9_source_cap", (s, d) =>
      Dedup.perSourceCap(Tables.documents(s, d), "source", "doc_id", "text", cap = 15)
        .groupBy("source").agg(count(lit(1)).as("n_kept"),
                               min(col("doc_id")).as("min_kept_id")),
      Sql("""WITH ranked AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, min(doc_id) AS min_kept_id
        |FROM ranked WHERE rn <= 15 GROUP BY source""".stripMargin)),

    // Interleaved training order: first 100 global positions of the
    // round-robin source mix (sources src0..src19 -> index = suffix).
    Query("d10_interleave", (s, d) =>
      Dedup.interleaveOrder(Tables.documents(s, d), "source", "doc_id", "text",
          nSources = 20, sourceIndex = substring(col("source"), 4, 8).cast("int"))
        .select(col("pos"), col("source"), col("doc_id"))
        .orderBy("pos").limit(100),
      Sql("""WITH ranked AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |SELECT CAST((rn - 1) * 20 + CAST(substr(source, 4, 8) AS INT) AS BIGINT) AS pos,
        |  source, doc_id
        |FROM ranked ORDER BY pos LIMIT 100""".stripMargin)),

    // Seeded epoch shuffle: shard round-robin on id, seeded-hash order
    // within shard — the reproducible training-order layout. Fully
    // SQL-expressible (md5-hex recipe shared with d10) -> oracled.
    Query("d11_epoch_shuffle", (s, d) =>
      Dedup.epochShuffle(Tables.documents(s, d), "doc_id", seed = 7, nShards = 4)
        .select(col("doc_id"), col("shard"), col("pos")),
      Sql("""SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 4
        |    ORDER BY CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT),
        |      doc_id) AS BIGINT) AS pos
        |FROM documents""".stripMargin)),

    // Connected components over MinHash-verified near-dup pairs: the
    // cluster label (= min member id) a corpus-wide fuzzy dedup keeps one
    // representative per. Pair generation is xxhash-bucketed -> rows-only;
    // RowsOnlyGateSpec pins label soundness on the real corpus.
    // Round 16: clusters now close over minhashSpanningEdges (per-bucket
    // spanning forests of the verified subgraph, same LSH geometry + cap
    // as minhashCandidatePairs) instead of the clique pair set — labels
    // identical by connectivity preservation (the oracle still replays
    // closure over d13's clique dump, so the equality IS the check), but
    // the closure input is linear in members, not dup-rate².
    Query("d12_dup_clusters", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashSpanningEdges(docs, "doc_id", "text", threshold = 0.8)
      Dedup.dupClusters(pairs.select(col("id1"), col("id2")))
    },
      // the CLUSTERING stage, oracled end-to-end: d12's input pairs are
      // exactly the d13 verified set (minhashNearDups ≡ candidates →
      // Jaccard ≥ τ on the rounded value), so connected components over
      // them is pure SQL — a recursive transitive closure with UNION set
      // semantics (components are near-dup clusters, a handful of docs, so
      // the closure is tiny) and the min reachable id as each node's
      // label, which is precisely dupClusters' fixpoint. The distributed
      // label-propagation + pointer-jumping implementation is thereby
      // hash-checked against an independent sequential formulation.
      DumpReplay(dir => dumpClosureCtes("d13", dir) +
        "\nSELECT id, min(r) AS label FROM reach GROUP BY id")),

    // The fuzzy dedup's ANSWER SHEET: surviving doc ids with why each
    // survived (never-paired vs cluster canonical) — d12's labels applied
    // back to the corpus. Oracled like d13: the query dumps ITS OWN
    // candidate set (so a failed sibling query can never leave it a stale
    // dump) and the DuckDB side rebuilds labels by recursive closure over
    // that dump + the verify filter, then applies the same keep rule —
    // the end-to-end LSH→verify→cluster→keep pipeline hash-checked at
    // every stage.
    // Round 16: the dump is now the spanning-forest edge list (every edge
    // a genuine verified pair, so the oracle's verify+closure replay is
    // unchanged); survivors identical to the clique form by connectivity
    // preservation, closure input linear in members.
    Query("d14_fuzzy_survivors", (s, d) => {
      val docs = Tables.documents(s, d)
      val cands = dumpedCandidates(s, "d14", d,
        Dedup.minhashSpanningEdges(docs, "doc_id", "text", threshold = 0.8))
      val pairs = Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
      Dedup.fuzzySurvivors(docs, "doc_id", pairs.select(col("id1"), col("id2")))
    },
      // d12's closure applied back to the corpus as the keep rule: a doc
      // survives when it never entered a verified pair (label missing) or
      // it IS its cluster's min id. Same verify + closure text as d12, over
      // d14's OWN dump, one more select on top.
      DumpReplay(dir => dumpClosureCtes("d14", dir) +
        """,
          |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
          |SELECT d.doc_id,
          |  CASE WHEN lab.label IS NULL THEN 'unique' ELSE 'canonical' END AS kind
          |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
          |WHERE lab.label IS NULL OR lab.label = d.doc_id""".stripMargin)),

    // Incremental dedup (today's batch vs the standing corpus): every
    // 10th doc plays the new batch, the rest the corpus; candidates are
    // strictly new×corpus (never corpus×corpus), dumped like d13 so the
    // oracle replays the exact-Jaccard verify over the identical pair set.
    Query("d15_incremental_neardups", (s, d) => {
      val docs = Tables.documents(s, d)
      val newBatch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val cands = dumpedCandidates(s, "d15", d,
        Dedup.incrementalCandidatePairs(newBatch, corpus, "doc_id", "text"))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    },
      // replays the verify stage over d15's new×corpus candidate dump,
      // exactly the d13 pattern (shingling + Jaccard verbatim; threshold
      // on the rounded value).
      DumpReplay(dir => dumpVerifySql("d15", dir))),

    // d15 through the PERSISTED corpus index (LshIndex): build-once
    // standing buckets, DPP-pruned probe scan; only the new batch is
    // hashed per run. Candidate set == d15's by construction; same
    // verify-replay oracle over this query's own dump.
    Query("d16_incremental_indexed", (s, d) => {
      val docs = Tables.documents(s, d)
      val newBatch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val idx = graft.dedup.LshIndex.ensure(s, d,
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), subset = "mod10ne0")
      val cands = dumpedCandidates(s, "d16", d,
        Dedup.incrementalCandidatePairsIndexed(idx, newBatch, "doc_id", "text"))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    },
      // the d15 verify replay over d16's (indexed-probe) candidate dump.
      DumpReplay(dir => dumpVerifySql("d16", dir))),

    // The LSH pipeline's VERIFY stage, oracled end-to-end: candidate
    // GENERATION is xxhash-keyed (rows-only by nature, like d3/d4), but
    // once the Spark-produced candidate set is materialized to parquet,
    // the verify stage — exact n-gram Jaccard over exactly those pairs,
    // threshold on the rounded value — is plain SQL. The DuckDB oracle
    // reads the SAME dumped candidates and replays the verify; the
    // output (the exact pair table d12 clusters) hash-matches. This
    // shrinks the rows-only set to pure-signature queries.
    Query("d13_lsh_verified_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
      // verify-mode: score the read-back dump, so Spark and the oracle
      // provably score the IDENTICAL pair set (dumpedCandidates)
      val cands = dumpedCandidates(s, "d13", d,
        Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    },
      // replays the verify stage over the candidate set d13's Spark run
      // materialized for `dir` (see candidatesPath). Shingling + Jaccard are the d5
      // expressions verbatim; the threshold filters the ROUNDED value,
      // exactly as the Spark side does.
      DumpReplay(dir => dumpVerifySql("d13", dir))),

    // The SimHash pipeline's VERIFY stage, oracled end-to-end (the d13
    // pattern applied to d4's signature family): candidate generation —
    // 16-bit chunk blocking + hamming <= 3 on the xxhash64-derived
    // fingerprints — is engine-keyed (rows-only by nature), but once the
    // hamming-verified pair set is dumped, the exact n-gram Jaccard over
    // exactly those pairs is plain SQL, replayed by DuckDB over the
    // identical dump. Shrinks the rows-only remainder: d4's signatures
    // stay signature-gated, its PAIRS are now hash-checked.
    Query("d19_simhash_verified_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
      val cands = dumpedCandidates(s, "d19", d,
        Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
          .select(col("id1"), col("id2")))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    },
      // same replay over d19's SimHash (chunk-blocked, hamming-verified)
      // candidate dump — the verify stage is identical by design, only the
      // candidate generator differs
      DumpReplay(dir => dumpVerifySql("d19", dir))),

    // Incremental EXACT dedup (the pass that runs BEFORE d15/d16's
    // near-dup machinery in a daily-crawl pipeline): batch rows whose
    // content hash is absent from the standing corpus. md5 is
    // engine-portable, so unlike the LSH family this needs no dump —
    // the oracle replays the whole operator directly.
    Query("d17_incremental_exact", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalExactNew(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
    },
      // incremental exact dedup: md5 is engine-portable, so the WHOLE
      // operator (not just a verify stage) replays in SQL — the batch's
      // content addresses anti-joined against the standing corpus's.
      // NOT IN is null-safe here (md5 of a non-null text is never null).
      Sql(exactNewSql)),

    // d17 through the persisted content-hash ledger (HashLedger): only
    // the batch is hashed per run; membership is a DPP-pruned probe of
    // the standing hash-group layout (see HashLedger's probe-shape note
    // on why the anti join runs as inner + knockout).
    Query("d18_incremental_exact_indexed", (s, d) => {
      val docs = Tables.documents(s, d)
      val ledger = graft.dedup.HashLedger.ensure(s, d,
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), subset = "mod10ne0")
      Dedup.incrementalExactNewIndexed(ledger,
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
    },
      // identical result through the persisted ledger — same oracle text.
      Sql(exactNewSql)),

    Query("d1_exact_dup_stats", (s, d) => Dedup.exactDupStats(Tables.documents(s, d), "text"),
      Sql("""SELECT count(*) AS total_docs, count(DISTINCT text) AS distinct_docs,
        |  count(*) - count(DISTINCT text) AS dup_docs
        |FROM documents""".stripMargin)),

    Query("d2_exact_dedup", (s, d) => Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text"),
      Sql("""SELECT doc_id, text, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin)),

    Query("d3_lsh_buckets", (s, d) => Dedup.lshBuckets(Tables.documents(s, d), "doc_id", "text"),
      RowsOnly("xxhash64-keyed MinHash band buckets")),

    Query("d4_simhash_sigs", (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Dedup.simhash(col("text")).as("simhash64")),
      RowsOnly("xxhash64-keyed SimHash signatures")),

    Query("d6_curation_funnel", (s, d) =>
      Dedup.curationFunnel(Tables.documents(s, d), "doc_id", "text", "source",
        minQuality = 0.5, lang = "en"),
      Sql("""WITH t AS (SELECT doc_id, text, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |  FROM documents),
        |scored AS (SELECT doc_id, text, source,
        |  round(
        |    least(len(tok)/100.0, 1.0)*0.4 +
        |    coalesce(len(list_distinct(tok))*1.0/nullif(len(tok),0), 0.0)*0.4 +
        |    (1.0 - least(coalesce(
        |       len(regexp_replace(text, '[^[:punct:]]', '', 'g'))*1.0 /
        |       nullif(len(regexp_replace(text, '\s', '', 'g')), 0), 0.0)*5.0, 1.0))*0.2,
        |    6) AS q,
        |  len(list_filter(tok, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |  len(list_filter(tok, x -> x IN ('the','and','of','to','is','a'))) AS s_en,
        |  len(list_filter(tok, x -> x IN ('el','la','los','que','es','y'))) AS s_es,
        |  len(list_filter(tok, x -> x IN ('le','la','les','est','et','une'))) AS s_fr,
        |  len(list_filter(tok, x -> x IN ('的','是','了','在','我','不'))) AS s_zh
        |  FROM t),
        |gated AS (SELECT doc_id, text, source, q FROM scored
        |  WHERE q >= 0.5 AND
        |    CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |      WHEN s_fr >= s_zh THEN 'fr'
        |      ELSE 'zh' END = 'en'),
        |deduped AS (SELECT source, q FROM gated
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
        |SELECT source, count(*) AS kept_docs,
        |  round((CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(q)) * 10000) / 10000.0 + 0.0 AS avg_quality
        |FROM deduped GROUP BY source""".stripMargin)),

    Query("d5_jaccard_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.jaccardForPairs(docs, pairs, "doc_id", "text")
    },
      Sql("""WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    range(1, greatest(len(tok)-3+2, 1)),
        |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |        FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN NULL
        |    ELSE len(list_intersect(a.sh, b.sh))*1.0 /
        |         len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin))))
}
