package graft
package query

import org.apache.spark.sql.functions._

import graft.text.Text

import QuerySupport._

/** The `t` family: text analysis over the documents table. */
private[graft] object TextQueries {

  /** Stopword list shared by the doc-stats query and its oracle. */
  private val stopwords = Seq("the", "and", "of", "to", "is", "a", "in", "it")

  val family: Family = Family("t", "text analysis",
    impl = "graft.text.Text",
    specs = "TextSpec, RowsOnlyGateSpec, PropertySpec", queries = Seq(
    Query("t1_doc_stats", (s, d) =>
      Text.docStats(Tables.documents(s, d), "text", stopwords)
        .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "type_token_ratio"),
      Sql("""WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |  FROM documents)
        |SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        |  round(list_sum(list_transform(tok, x -> len(x)))*1.0/nullif(len(tok),0), 4) AS avg_token_len,
        |  round(len(list_filter(tok, x -> x IN ('the','and','of','to','is','a','in','it')))*1.0/nullif(len(tok),0), 4) AS stopword_ratio,
        |  round(len(list_distinct(tok))*1.0/nullif(len(tok),0), 4) AS type_token_ratio
        |FROM t""".stripMargin)),

    Query("t2_lang_id", (s, d) =>
      Tables.documents(s, d)
        .groupBy(Text.langId(col("text")).as("predicted_lang"))
        .agg(count(lit(1)).as("cnt")),
      Sql("""WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |           FROM documents),
        |s AS (SELECT
        |  len(list_filter(tok, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |  len(list_filter(tok, x -> x IN ('the','and','of','to','is','a'))) AS s_en,
        |  len(list_filter(tok, x -> x IN ('el','la','los','que','es','y'))) AS s_es,
        |  len(list_filter(tok, x -> x IN ('le','la','les','est','et','une'))) AS s_fr,
        |  len(list_filter(tok, x -> x IN ('的','是','了','在','我','不'))) AS s_zh
        |  FROM t)
        |SELECT CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
        |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |  WHEN s_fr >= s_zh THEN 'fr'
        |  ELSE 'zh' END AS predicted_lang, count(*) AS cnt
        |FROM s GROUP BY predicted_lang""".stripMargin)),

    Query("t3_quality_score", (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Text.qualityScore(col("text")).as("quality")),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |  FROM documents)
        |SELECT doc_id, round(
        |  least(len(tok)/100.0, 1.0)*0.4 +
        |  coalesce(len(list_distinct(tok))*1.0/nullif(len(tok),0), 0.0)*0.4 +
        |  (1.0 - least(coalesce(
        |     len(regexp_replace(text, '[^[:punct:]]', '', 'g'))*1.0 /
        |     nullif(len(regexp_replace(text, '\s', '', 'g')), 0), 0.0)*5.0, 1.0))*0.2,
        |  6) AS quality
        |FROM t""".stripMargin)),

    Query("t4_subword_count", (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Text.subwordCount(col("text")).cast("long").as("n_subwords")),
      Sql("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^\s[:punct:]]+|[[:punct:]]')) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin)),

    Query("t5_fingerprint", (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Text.fingerprint(col("text")).as("fp")),
      RowsOnly("xxhash64-keyed fingerprints")),

    Query("t8_vocabulary", (s, d) =>
      Text.vocabulary(Tables.documents(s, d), "text", topK = 50),
      Sql("""SELECT token, count(*) AS occurrences FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY occurrences DESC, token LIMIT 50""".stripMargin)),

    Query("t9_tfidf", (s, d) =>
      Text.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3),
      Sql("""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, tf, round(tf * ln((n+1.0)/(df+1.0)), 6) AS tfidf
        |FROM tf JOIN dfreq USING (token), nn
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY tf * ln((n+1.0)/(df+1.0)) DESC, token) <= 3""".stripMargin)),

    // Winnowing fingerprint census, dump-replay oracled: the query dumps
    // the positional k-gram hash sequence (engine-keyed phase) and
    // publishes the NATIVE winnow's per-doc selected-set stats; DuckDB
    // independently replays the window-minimum selection (pure windowed
    // relational logic) over the identical dump — so the native codegen
    // loop's selection semantics are cross-checked, not just row counts.
    Query("t7_winnow", (s, d) => {
      val docs = Tables.documents(s, d)
      // side output, never read back: the oracle replays the window-min
      // selection over it. Skipped entirely outside verify mode.
      if (CandidateDumps.enabled)
        docs.select(col("doc_id"),
            posexplode(Text.kgramHashes(col("text"), k = 8)).as(Seq("pos", "h")))
          .write.mode("overwrite").parquet(candidatesPath("t7", d))
      val fp = Text.winnowFingerprints(col("text")) // k=8, w=4
      docs.select(col("doc_id"),
        size(fp).cast("long").as("n_fingerprints"),
        array_min(fp).as("fp_min"),
        array_max(fp).as("fp_max"))
    },
      // Winnowing selection replay over t7's own per-position hash dump:
      // window starts s ∈ [0, max(1, n-w+1)) over window [s, min(s+w, n)),
      // rightmost minimum per window (max pos among h = window min — the
      // native loop's `<=` scan), distinct selected hashes per doc. w = 4.
      // Docs shorter than k never enter the dump → LEFT JOIN, count 0.
      DumpReplay(dir => s"""WITH p AS (SELECT doc_id, pos, h
        |  FROM '${candidatesPath("t7", dir)}/*.parquet'),
        |n AS (SELECT doc_id, count(*) AS n FROM p GROUP BY 1),
        |st AS (SELECT p.doc_id, p.pos AS s, n.n FROM p JOIN n USING (doc_id)
        |       WHERE p.pos <= greatest(n.n - 4, 0)),
        |w AS (SELECT st.doc_id, st.s, q.pos, q.h
        |      FROM st JOIN p q ON q.doc_id = st.doc_id
        |       AND q.pos >= st.s AND q.pos < least(st.s + 4, st.n)),
        |m AS (SELECT doc_id, s, min(h) AS mh FROM w GROUP BY 1, 2),
        |sel AS (SELECT w.doc_id, max(w.pos) AS pos
        |        FROM w JOIN m ON m.doc_id = w.doc_id AND m.s = w.s AND w.h = m.mh
        |        GROUP BY w.doc_id, w.s),
        |selh AS (SELECT DISTINCT s.doc_id, p.h
        |         FROM sel s JOIN p ON p.doc_id = s.doc_id AND p.pos = s.pos),
        |f AS (SELECT doc_id, count(*) AS cnt, min(h) AS fp_min, max(h) AS fp_max
        |      FROM selh GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(f.cnt, 0) AS BIGINT) AS n_fingerprints,
        |  f.fp_min, f.fp_max
        |FROM documents d LEFT JOIN f USING (doc_id)""".stripMargin)),

    Query("t6_char_shingles", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), size(Text.charShingles(col("text"), 5)).cast("long").as("n_shingles")),
      Sql("""SELECT doc_id, CAST(CASE WHEN len(text) < 5 THEN 0 ELSE
        |  len(list_distinct(list_transform(range(1, len(text)-5+2), i -> substr(text, i, 5))))
        |  END AS BIGINT) AS n_shingles
        |FROM documents""".stripMargin)),

    // Gopher-style repetition census: top-3-gram fraction per doc — the
    // standard boilerplate/loop-spam quality rule.
    Query("t12_repetition", (s, d) =>
      Text.repetitionStats(Tables.documents(s, d), "doc_id", "text", n = 3),
      Sql("""WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)-3+2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM tok WHERE len(t) >= 3),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
        |  CAST(max(cnt) AS BIGINT) AS top_ngram_count,
        |  round((CAST(max(cnt) AS DOUBLE) / sum(cnt)) * 10000) / 10000.0 + 0.0 AS rep_ratio
        |FROM c GROUP BY doc_id""".stripMargin)),

    // Sequence packing (concat-and-split): per-shard deterministic doc
    // order, cumulative token positions, fixed 64-token sequence cuts —
    // per-shard window arithmetic, no global sort (the d11 shape).
    Query("t25_sequence_pack", (s, d) =>
      Text.sequencePack(Tables.documents(s, d), "doc_id", "text",
        seqLen = 64, nShards = 8),
      Sql("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_pos
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(end_pos - n_tokens AS BIGINT) AS start_pos,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |       ELSE CAST((end_pos - n_tokens) // 64 AS BIGINT) END AS seq_first,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |       ELSE CAST((end_pos - 1) // 64 AS BIGINT) END AS seq_last,
        |  CAST(coalesce(CASE WHEN n_tokens = 0 THEN NULL
        |       ELSE (end_pos - 1) // 64 - (end_pos - n_tokens) // 64 + 1 END, 0) AS BIGINT) AS n_seqs
        |FROM c""".stripMargin)),

    // Exact substring-level duplicate-span census (Lee et al. marking
    // pass): 8-token windows occurring in >= 2 docs, per-doc union
    // coverage via gaps-and-islands on window starts — md5-keyed shuffle,
    // interval arithmetic instead of per-token rows.
    Query("t24_dup_spans", (s, d) =>
      Text.dupSpanStats(Tables.documents(s, d), "doc_id", "text",
        w = 8, minDocs = 2),
      // t24 replay: identical windowing (w = 8, md5-keyed), identical
      // island rule (starts <= prev + 8 chain; union len = max-min+8).
      Sql("""WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |w0 AS (SELECT doc_id, unnest(range(1, len(t)-8+2)) - 1 AS pos, t
        |       FROM tok WHERE len(t) >= 8),
        |w2 AS (SELECT doc_id, pos, md5(array_to_string(t[pos+1:pos+8], ' ')) AS h
        |       FROM w0),
        |dup AS (SELECT h FROM w2 GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT doc_id, pos FROM w2 JOIN dup USING (h)),
        |mk AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |        THEN 1 ELSE 0 END AS brk
        |       FROM hit),
        |il AS (SELECT doc_id, pos,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |       FROM mk),
        |seg AS (SELECT doc_id, isl, max(pos) - min(pos) + 8 AS len, count(*) AS nw
        |        FROM il GROUP BY doc_id, isl),
        |agg AS (SELECT doc_id, sum(len) AS covered, sum(nw) AS ndw
        |        FROM seg GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok)
        |SELECT b.doc_id, b.n_tokens,
        |  CAST(coalesce(a.ndw, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(a.covered, 0) AS BIGINT) AS tokens_covered,
        |  CASE WHEN b.n_tokens = 0 THEN 0.0
        |       ELSE round(coalesce(a.covered, 0) * 1.0 / b.n_tokens * 10000)
        |            / 10000.0 + 0.0 END AS dup_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // Bigram LM fluency score: add-1-smoothed P(w2|w1), model tables
    // derived from one tf aggregation (never re-scans text), V as a
    // broadcast scalar — the KenLM-ish quality filter above t17's unigram.
    // plan: scoring is one map-side pass (the t17 shape)
    Query("t23_bigram_logprob", (s, d) =>
      Text.bigramLogProb(Tables.documents(s, d), "doc_id", "text"),
      Sql("""WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-2+2),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tok WHERE len(t) >= 2),
        |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY doc_id, bigram),
        |cb AS (SELECT bigram, sum(tf) AS cb, string_split(bigram, ' ')[1] AS w1
        |       FROM tf GROUP BY bigram),
        |c1 AS (SELECT w1, sum(cb) AS c1 FROM cb GROUP BY w1),
        |v AS (SELECT count(DISTINCT token) AS v
        |      FROM (SELECT unnest(t) AS token FROM tok)),
        |s AS (SELECT tf.doc_id, tf.tf,
        |        ln((cb.cb + 1) * 1.0 / (c1.c1 + v.v)) AS lp
        |      FROM tf JOIN cb USING (bigram) JOIN c1 ON cb.w1 = c1.w1 CROSS JOIN v)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(lp AS DECIMAL(20,10)) * tf) AS DOUBLE) / sum(tf) * 10000)
        |    / 10000.0 + 0.0 AS avg_logprob
        |FROM s GROUP BY doc_id""".stripMargin)),

    // φ-heavy hitters over 3-gram occurrences: SpaceSaving candidate
    // sketch (each task ships ≤ capacity pairs across the exchange, never
    // one row per distinct gram) → broadcast exact recount. φ = 1/5000
    // with capacity 8192 > 1/φ keeps the no-miss bound at EVERY corpus
    // size; at sf0.01 the 16k distinct grams vs 8k capacity make the
    // eviction path do real work.
    Query("t22_heavy_ngrams", (s, d) =>
      Text.heavyHitters(
        Tables.documents(s, d).select(
          explode(Text.wordShingleOccurrences(col("text"), 3)).as("gram")),
        col("gram"), phiInverse = 5000L, capacity = 8192),
      // Exact φ-heavy-hitter replay: same 3-gram occurrence stream (t12's
      // tokenize convention, duplicates kept), same integral threshold
      // arithmetic — the sketch pass must be invisible in the result.
      Sql("""WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(t)-3+2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS item
        |  FROM tok WHERE len(t) >= 3),
        |th AS (SELECT greatest(1, ((count(*) - 1) // 5000) + 1) AS th FROM g)
        |SELECT g.item, count(*) AS cnt FROM g, th
        |GROUP BY g.item, th.th HAVING count(*) >= th.th""".stripMargin)),

    // Cross-doc duplicated-span score: fraction of each doc's distinct
    // 5-gram shingles occurring in >= 2 docs (t12's ACROSS-doc twin —
    // the span-level signal a C4-style corpus dedup acts on).
    Query("t19_crossdoc_shingles", (s, d) =>
      Text.crossDocShingles(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDocs = 2),
      // t19: the same distinct-shingle recipe as d13's oracle (5-gram), a
      // hot set of shingles in >= 2 distinct docs, and a per-doc rollup of
      // how much of the doc is corpus-duplicated span.
      Sql("""WITH sh AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    range(1, greatest(len(tok)-5+2, 1)),
        |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |hot AS (SELECT s FROM ex GROUP BY s HAVING count(DISTINCT doc_id) >= 2)
        |SELECT ex.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN hot.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(sum(CASE WHEN hot.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS shared_ratio
        |FROM ex LEFT JOIN hot ON ex.s = hot.s
        |GROUP BY ex.doc_id""".stripMargin)),

    // DSIR importance weights: mean per-token log-ratio of the target
    // (src0/src1 as the wiki-like seed) vs corpus unigram distributions,
    // Laplace-smoothed — the data-selection score importance resampling
    // keeps documents by.
    Query("t20_dsir_weights", (s, d) =>
      Text.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        col("source").isin("src0", "src1")),
      // t20: t17's decimal-stable mean recipe over the smoothed
      // target-vs-corpus log-ratio; ct left-joined (target-unseen tokens
      // count 0), scalar totals cross-joined.
      Sql("""WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |    FROM documents) GROUP BY doc_id, token),
        |cs AS (SELECT token, sum(tf) AS cs FROM tf GROUP BY token),
        |ct AS (SELECT token, count(*) AS ct FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |    FROM documents WHERE source IN ('src0', 'src1')) GROUP BY token),
        |k AS (SELECT sum(cs) AS ns, count(*) AS v FROM cs),
        |t AS (SELECT coalesce(sum(ct), 0) AS nt FROM ct),
        |s AS (SELECT tf.doc_id, tf.tf,
        |    ln((coalesce(ct.ct, 0) + 1.0) / (t.nt + k.v)) -
        |    ln((cs.cs + 1.0) / (k.ns + k.v)) AS lr
        |  FROM tf JOIN cs USING (token) LEFT JOIN ct USING (token)
        |  CROSS JOIN k CROSS JOIN t)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(lr AS DECIMAL(20,10)) * tf) AS DOUBLE) / sum(tf) * 10000) / 10000.0 + 0.0 AS dsir_weight
        |FROM s GROUP BY doc_id""".stripMargin)),

    // DSIR selection: Gumbel-top-k resampling over the t20 weights with
    // content-hash-deterministic noise — the 100 docs importance
    // resampling actually keeps.
    Query("t21_dsir_resample", (s, d) =>
      Text.dsirResample(Tables.documents(s, d), "doc_id", "text",
        col("source").isin("src0", "src1"), k = 100),
      // t21: t20's weight CTE + the d8 md5-bucket recipe as deterministic
      // Gumbel noise; ORDER BY the raw key (id tie-break) LIMIT k, key
      // published rounded.
      Sql("""WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |    FROM documents) GROUP BY doc_id, token),
        |cs AS (SELECT token, sum(tf) AS cs FROM tf GROUP BY token),
        |ct AS (SELECT token, count(*) AS ct FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |    FROM documents WHERE source IN ('src0', 'src1')) GROUP BY token),
        |k AS (SELECT sum(cs) AS ns, count(*) AS v FROM cs),
        |t AS (SELECT coalesce(sum(ct), 0) AS nt FROM ct),
        |s AS (SELECT tf.doc_id, tf.tf,
        |    ln((coalesce(ct.ct, 0) + 1.0) / (t.nt + k.v)) -
        |    ln((cs.cs + 1.0) / (k.ns + k.v)) AS lr
        |  FROM tf JOIN cs USING (token) LEFT JOIN ct USING (token)
        |  CROSS JOIN k CROSS JOIN t),
        |w AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    round(CAST(sum(CAST(lr AS DECIMAL(20,10)) * tf) AS DOUBLE) / sum(tf) * 10000) / 10000.0 + 0.0 AS dsir_weight
        |  FROM s GROUP BY doc_id),
        |g AS (SELECT doc_id,
        |    (CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u
        |  FROM documents),
        |keyed AS (SELECT w.doc_id, w.n_tokens, w.dsir_weight,
        |    w.dsir_weight - ln(-ln(g.u)) AS key
        |  FROM w JOIN g ON g.doc_id = w.doc_id)
        |SELECT doc_id, n_tokens, dsir_weight, round(key, 4) AS gumbel_key
        |FROM keyed ORDER BY key DESC, doc_id LIMIT 100""".stripMargin)),

    // DSIR in the paper's hashed-n-gram feature space: bigrams hashed
    // into a FIXED 10k-bucket domain, so the driver model is
    // constant-size by construction — the unconditional 100 TB form
    // plan: the t20 fast path on the bucket domain: two bucket-count aggregates + one scoring scan, no model join
    Query("t26_dsir_hashed", (s, d) =>
      Text.dsirWeightsHashed(Tables.documents(s, d), "doc_id", "text",
        col("source").isin("src0", "src1"), buckets = 10000),
      // t26: the t23 bigram construction + the t21 md5-bucket recipe +
      // the t20 smoothing skeleton, on the fixed 10k-bucket domain
      Sql("""WITH tok AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, source, unnest(list_transform(range(1, len(t)-2+2),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM tok WHERE len(t) >= 2),
        |occ AS (SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(bigram), 1, 8)) AS BIGINT) % 10000 AS b
        |  FROM bg),
        |tf AS (SELECT doc_id, b, count(*) AS tf FROM occ GROUP BY doc_id, b),
        |cs AS (SELECT b, count(*) AS cs FROM occ GROUP BY b),
        |ct AS (SELECT b, count(*) AS ct FROM occ
        |       WHERE source IN ('src0', 'src1') GROUP BY b),
        |k AS (SELECT sum(cs) AS ns, count(*) AS v FROM cs),
        |t AS (SELECT coalesce(sum(ct), 0) AS nt FROM ct),
        |s AS (SELECT tf.doc_id, tf.tf,
        |    ln((coalesce(ct.ct, 0) + 1.0) / (t.nt + k.v)) -
        |    ln((cs.cs + 1.0) / (k.ns + k.v)) AS lr
        |  FROM tf JOIN cs USING (b) LEFT JOIN ct USING (b)
        |  CROSS JOIN k CROSS JOIN t)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
        |  round(CAST(sum(CAST(lr AS DECIMAL(20,10)) * tf) AS DOUBLE) / sum(tf) * 10000)
        |    / 10000.0 + 0.0 AS dsir_weight
        |FROM s GROUP BY doc_id""".stripMargin)),

    // Benchmark-decontamination scrub: word-boundary denylist hits counted
    // and redacted, publish the hit count + cleaned length per doc.
    Query("t10_decontaminate", (s, d) =>
      Text.decontaminate(Tables.documents(s, d), "text", Seq("spark", "query"))
        .select(col("doc_id"), col("n_hits"),
                length(col("clean_text")).cast("long").as("n_clean_chars")),
      Sql("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(spark|query)\b')) AS BIGINT) AS n_hits,
        |  CAST(len(regexp_replace(text, '\b(spark|query)\b', '[REDACTED]', 'g')) AS BIGINT) AS n_clean_chars
        |FROM documents""".stripMargin)),

    // Concatenate-then-chunk packing plan: per-source running token offset
    // and the training-window id each document starts in.
    Query("t11_chunk_plan", (s, d) =>
      Text.chunkPlan(Tables.documents(s, d), "source", "doc_id", "text",
        contextLen = 2048),
      Sql("""WITH t AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source, doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin)),

    // Bloom-filter eval-set decontamination: every 97th doc stands in as
    // the benchmark; the corpus streams past its shingle sketch with no
    // join. Bloom bit layout is engine-internal -> rows-only; the gate
    // proves no-false-negatives + bounded FP rate vs the exact join.
    Query("t18_bloom_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      Text.bloomDecontaminate(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", n = 5, fpp = 0.001)
    },
      RowsOnly("the bloom filter's bit layout is engine-internal")),

    // Unigram-LM quality score (mean token log-prob under the corpus's
    // own unigram distribution) — the SQL-able stand-in for a perplexity
    // filter. Decimal-accumulated mean -> engine-stable.
    Query("t17_unigram_logprob", (s, d) =>
      Text.unigramLogProb(Tables.documents(s, d), "doc_id", "text"),
      Sql("""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |s AS (SELECT doc_id, ln(c * 1.0 / t) AS lp FROM tok JOIN cnt USING (token) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(lp AS DECIMAL(20,10))) AS DOUBLE) / count(*) * 10000) / 10000.0 + 0.0 AS avg_logprob
        |FROM s GROUP BY doc_id""".stripMargin)),

    // Sliding-window chunking (overlap = 4 tokens at these parameters):
    // the RAG/embedding complement of t11's concat-and-chunk. Small
    // window/stride so the sf0.01 docs (~30 tokens) produce real
    // multi-chunk plans. Pure map-side sequence+posexplode.
    Query("t16_chunk_overlap", (s, d) =>
      Text.chunkPlanOverlap(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 16, stride = 12),
      Sql("""WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 16 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(ceil((n_tokens - 16) / 12.0) AS BIGINT) + 1 END AS nc
        |  FROM t),
        |e AS (SELECT doc_id, n_tokens, unnest(range(0, nc)) AS i FROM c)
        |SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 12 AS BIGINT) AS start_token,
        |  least(CAST(i * 12 + 16 AS BIGINT), n_tokens) AS end_token
        |FROM e""".stripMargin)),

    // PII scrub over a deterministically-dirtied column: the testdata text
    // contains no PII at all (pure word soup), so an email/phone/IPv4 is
    // derived from doc_id identically in both engines — a zero-hit oracle
    // would pin nothing. Patterns are RE2-safe so DuckDB compiles the
    // byte-identical regex.
    Query("t13_pii_scrub", (s, d) =>
      Text.piiScrub(
        Tables.documents(s, d).withColumn("dirty", concat(
          col("text"), lit(" Contact doc"), col("doc_id").cast("string"),
          lit("@example.com call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".1"))),
        "doc_id", "dirty"),
      Sql("""WITH dirty AS (SELECT doc_id,
        |  text || ' Contact doc' || CAST(doc_id AS VARCHAR) || '@example.com call 555-' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
        |FROM dirty""".stripMargin)),

    // URL/domain census over a deterministically-dirtied column (testdata
    // has no URLs): each doc gains one URL whose domain derives from
    // doc_id, so the corpus-level domain distribution is oracle-checkable.
    Query("t15_domain_census", (s, d) =>
      Text.domainCensus(
        Tables.documents(s, d).withColumn("dirty", concat(
          col("text"), lit(" see https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.org/path?q=1 and more"))),
        "dirty")
        .orderBy(col("n").desc, col("domain")),
      Sql("""WITH dirty AS (SELECT doc_id,
        |  text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.org/path?q=1 and more' AS t
        |  FROM documents)
        |SELECT d AS domain, count(*) AS n
        |FROM (SELECT unnest(regexp_extract_all(t, 'https?://([^\s/?#]+)', 1)) AS d
        |      FROM dirty)
        |GROUP BY d ORDER BY n DESC, d""".stripMargin)),

    // C4 line rules over a 4-line synthetic document (real line, short
    // line, boilerplate line, markup line) — exactly one line survives,
    // and the full kept text is string-compared against the oracle.
    Query("t14_c4_lines", (s, d) =>
      Text.c4LineFilter(
        Tables.documents(s, d).withColumn("dirty", concat(
          substring(col("text"), 1, 120),
          lit(" end.\nshort\nPlease enable javascript and accept our cookie policy.\n{ \"nav\": 1 }"))),
        "doc_id", "dirty", minWords = 5),
      Sql("""WITH dirty AS (SELECT doc_id,
        |  substr(text, 1, 120) || ' end.' || chr(10) || 'short' || chr(10) ||
        |  'Please enable javascript and accept our cookie policy.' || chr(10) ||
        |  '{ "nav": 1 }' AS t
        |  FROM documents),
        |f AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM dirty),
        |k AS (SELECT doc_id, ls,
        |  list_filter(ls, l ->
        |    len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5
        |    AND regexp_matches(l, '[.!?"]\s*$')
        |    AND NOT contains(l, '{') AND NOT contains(l, '}')
        |    AND NOT contains(lower(l), 'javascript')
        |    AND NOT contains(lower(l), 'cookie')
        |    AND NOT contains(lower(l), 'lorem ipsum')) AS keep
        |  FROM f)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(keep) AS BIGINT) AS n_kept,
        |  array_to_string(keep, chr(10)) AS clean_text
        |FROM k""".stripMargin))))
}
