package graft
package query

import org.apache.spark.sql.functions._

import graft.analyze.Analytics

/** The `o` family: sort, top-k and set operations (SURVEY §2.6). */
private[graft] object OrderingQueries {

  val family: Family = Family("o", "ordering / top-k / set ops",
    impl = "graft.analyze.Analytics, o.a.s.sql.graft.TopKExpressions",
    specs = "AnalyticsSpec", queries = Seq(
    Query("o1_topk_per_group", (s, d) =>
      Analytics.topKPerGroup(
          Tables.lineitem(s, d).select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
          "l_returnflag", "l_extendedprice", 3, Seq("l_orderkey", "l_linenumber"))
        .withColumn("rnk", col("rnk").cast("long")),
      Sql("""SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |       CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin)),

    // Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    // per-partition partial top-k, no full sort (the 100 TB-correct shape).
    Query("o2_global_topk", (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10),
      Sql("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin)),

    // Explicit set operations (§2.7): customers active in BOTH years
    // (INTERSECT) and in 1996 but not 1997 (EXCEPT); Catalyst plans these
    // as semi/anti joins over the distinct key sets.
    Query("o3_set_ops", (s, d) => {
      def custIn(year: Int) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
                col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      val both = custIn(1996).intersect(custIn(1997))
        .agg(count(lit(1)).as("n")).select(lit("both_years").as("kind"), col("n"))
      val only96 = custIn(1996).except(custIn(1997))
        .agg(count(lit(1)).as("n")).select(lit("only_1996").as("kind"), col("n"))
      both.unionByName(only96).orderBy("kind")
    },
      Sql("""WITH c96 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |c97 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT 'both_years' AS kind,
        |  (SELECT count(*) FROM (SELECT * FROM c96 INTERSECT SELECT * FROM c97)) AS n
        |UNION ALL
        |SELECT 'only_1996' AS kind,
        |  (SELECT count(*) FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c97)) AS n
        |ORDER BY kind""".stripMargin)),

    // Per-language best-of: langId + qualityScore feed the bounded-heap
    // topKPerGroup (o.a.s.sql.graft.TopKRows) — the curation primitive
    // "keep the k best docs per language bucket" as ONE scan + one
    // groups×k shuffle, no per-partition sort of the corpus. Oracled
    // end-to-end (both signals are the t2/t3-proven SQL twins, ranks via
    // row_number), so the heap's ordering semantics are hash-checked on
    // real string data, not just spec-tested.
    Query("o4_top_docs_per_lang", (s, d) => {
      val scored = Tables.documents(s, d)
        .select(graft.text.Text.langId(col("text")).as("lang"), col("doc_id"),
                graft.text.Text.qualityScore(col("text")).as("quality"))
      Analytics.topKPerGroup(scored, "lang", "quality", 3, Seq("doc_id"))
        .withColumn("rnk", col("rnk").cast("long"))
    },
      // lang CASE = t2's proven twin; quality expr = t3's proven twin;
      // ranks via row_number under (quality desc, doc_id) — the heap agg
      // must reproduce them exactly
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |  FROM documents),
        |s AS (SELECT doc_id, text, tok,
        |  len(list_filter(tok, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |  len(list_filter(tok, x -> x IN ('the','and','of','to','is','a'))) AS s_en,
        |  len(list_filter(tok, x -> x IN ('el','la','los','que','es','y'))) AS s_es,
        |  len(list_filter(tok, x -> x IN ('le','la','les','est','et','une'))) AS s_fr,
        |  len(list_filter(tok, x -> x IN ('的','是','了','在','我','不'))) AS s_zh
        |  FROM t),
        |l AS (SELECT
        |  CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS lang,
        |  doc_id,
        |  round(
        |    least(len(tok)/100.0, 1.0)*0.4 +
        |    coalesce(len(list_distinct(tok))*1.0/nullif(len(tok),0), 0.0)*0.4 +
        |    (1.0 - least(coalesce(
        |       len(regexp_replace(text, '[^[:punct:]]', '', 'g'))*1.0 /
        |       nullif(len(regexp_replace(text, '\s', '', 'g')), 0), 0.0)*5.0, 1.0))*0.2,
        |    6) AS quality
        |  FROM s)
        |SELECT lang, doc_id, quality, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT lang, doc_id, quality,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY quality DESC, doc_id) AS rn
        |      FROM l)
        |WHERE rn <= 3""".stripMargin))))
}
