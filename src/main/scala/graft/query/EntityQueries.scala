package graft
package query

import org.apache.spark.sql.functions._

/** The `er` family: entity resolution (fuzzy record linkage). */
private[graft] object EntityQueries {

  /** Shared er2/er5 oracle scaffold: token blocking + levenshtein pairs +
    * the recursive min-label closure down to `canon (name, entity)` —
    * one copy so the two consumers (labels alone, labels + keep rule)
    * cannot drift. DuckDB gotcha (docs/SCALE_PROBE.md): inside WITH
    * RECURSIVE a top-level-UNION CTE is treated as a recursion candidate
    * and skips dedup, hence the SELECT DISTINCT wrappers.
    */
  private lazy val erClosureCte: String =
    """WITH RECURSIVE
      |u AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
      |t AS (SELECT DISTINCT name, unnest(string_split_regex(name, '\s+')) AS tok FROM u),
      |t2 AS (SELECT name, tok FROM t WHERE len(tok) > 0
      |       QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
      |p AS (SELECT DISTINCT a.name AS name1, b.name AS name2
      |      FROM t2 a JOIN t2 b ON a.tok = b.tok AND a.name < b.name
      |      WHERE levenshtein(a.name, b.name) <= 2),
      |e AS (SELECT name1 AS src, name2 AS dst FROM p
      |      UNION ALL SELECT name2, name1 FROM p),
      |reach(id, r) AS (
      |  SELECT name, name FROM u
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
      |canon AS (SELECT id AS name, min(r) AS entity FROM reach GROUP BY id)""".stripMargin

  private lazy val erIncrementalSql: String =
    """WITH standing AS (SELECT DISTINCT p_name AS sname FROM part
      |  WHERE p_partkey % 10 <> 0 AND p_name IS NOT NULL),
      |st AS (SELECT DISTINCT sname, unnest(string_split_regex(sname, '\s+')) AS tok
      |       FROM standing),
      |st2 AS (SELECT sname, tok FROM st WHERE len(tok) > 0
      |        QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
      |batch AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 10 = 0),
      |bn AS (SELECT DISTINCT p_name AS bname FROM batch WHERE p_name IS NOT NULL),
      |bt AS (SELECT DISTINCT bname, unnest(string_split_regex(bname, '\s+')) AS tok
      |       FROM bn),
      |bt2 AS (SELECT bname, tok FROM bt WHERE len(tok) > 0),
      |cand AS (SELECT DISTINCT b.bname, s.sname FROM bt2 b JOIN st2 s ON b.tok = s.tok),
      |v AS (SELECT bname, sname, levenshtein(bname, sname) AS dist FROM cand
      |      WHERE levenshtein(bname, sname) <= 2),
      |best AS (SELECT bname, sname FROM v
      |         QUALIFY row_number() OVER (PARTITION BY bname ORDER BY dist, sname) = 1)
      |SELECT b.p_partkey, b.p_name,
      |  coalesce(best.sname, b.p_name) AS entity,
      |  best.sname IS NOT NULL AS matched
      |FROM batch b LEFT JOIN best ON b.p_name = best.bname""".stripMargin

  val family: Family = Family("er", "entity resolution (fuzzy record linkage)",
    impl = "graft.er.EntityResolution",
    specs = "EntityResolutionSpec", queries = Seq(
    // Token-blocked levenshtein match over the DISTINCT part-name
    // universe (names, never rows), then every part labeled with its
    // connected component's min name via one broadcast join back.
    // plan: the candidate join rides the token shuffle (cap as a window, no extra exchange); levenshtein only on capped candidates
    Query("er1_name_matches", (s, d) =>
      graft.er.EntityResolution.nameMatchPairs(
        Tables.part(s, d), "p_name", maxDist = 2),
      // token blocking + levenshtein replayed literally (DuckDB's
      // levenshtein is the same classic unit-cost edit distance); the
      // occupancy cap counts DISTINCT NAMES per token, like the operator
      Sql("""WITH u AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
        |t AS (SELECT DISTINCT name, unnest(string_split_regex(name, '\s+')) AS tok FROM u),
        |t2 AS (SELECT name, tok FROM t WHERE len(tok) > 0
        |       QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
        |p AS (SELECT DISTINCT a.name AS name1, b.name AS name2
        |      FROM t2 a JOIN t2 b ON a.tok = b.tok AND a.name < b.name)
        |SELECT name1, name2, CAST(levenshtein(name1, name2) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(name1, name2) <= 2""".stripMargin)),

    // plan: er1's shape plus the single broadcast join-back; rows never shuffle
    Query("er2_entity_groups", (s, d) =>
      graft.er.EntityResolution.entityGroups(
        Tables.part(s, d), "p_partkey", "p_name", maxDist = 2),
      // the closure over er1's pairs as a recursive min-label CTE (the
      // m18 pattern), then every part row joined to its component label;
      // unmatched names label as themselves via the singleton base case
      Sql(s"""$erClosureCte
         |SELECT pt.p_partkey, pt.p_name, coalesce(c.entity, pt.p_name) AS entity
         |FROM part pt LEFT JOIN canon c ON pt.p_name = c.name""".stripMargin)),

    // the conformed-dimension publish: er2's labels plus the keep rule
    // (a row survives iff its name IS the canonical label — the d14
    // survivor shape at name granularity)
    // plan: er2's plan plus a projection
    Query("er5_entity_survivors", (s, d) =>
      graft.er.EntityResolution.entitySurvivors(
        Tables.part(s, d), "p_partkey", "p_name", maxDist = 2),
      // er5: er2's closure replay + the keep rule (null-safe name ==
      // entity — survivors are the rows carrying the canonical spelling;
      // null-name rows keep themselves with a null entity)
      Sql(s"""$erClosureCte
         |SELECT pt.p_partkey, pt.p_name, coalesce(c.entity, pt.p_name) AS entity,
         |  (pt.p_name IS NOT DISTINCT FROM coalesce(c.entity, pt.p_name)) AS keep
         |FROM part pt LEFT JOIN canon c ON pt.p_name = c.name""".stripMargin)),

    // incremental ER (the d15/m9 "only the batch pays" pattern on
    // names): a 10% batch conformed to the 90% standing name universe
    // plan: the candidate join rides the token shuffle over the distinct-name universe
    Query("er3_incremental_matches", (s, d) => {
      val part = Tables.part(s, d)
      graft.er.EntityResolution.incrementalEntityMatches(
        part.filter(pmod(col("p_partkey"), lit(10)) === 0),
        part.filter(pmod(col("p_partkey"), lit(10)) =!= 0),
        "p_partkey", "p_name", maxDist = 2)
    },
      // batch names conformed to the standing universe: blocking +
      // levenshtein + best-match (min dist, tie lexicographic) replayed
      // literally; the occupancy cap counts the STANDING side
      Sql(erIncrementalSql)),

    // er3 through the persisted NameIndex (the d16/m12 indexed-twin
    // shape): identical answer, but only the batch derives tokens —
    // the standing side is the one-time capped token-block artifact
    // plan: the candidate join rides the token shuffle over the distinct-name universe
    Query("er4_incremental_indexed", (s, d) => {
      val part = Tables.part(s, d)
      val idx = graft.er.NameIndex.ensure(s, d, "part", "mod10ne0",
        part.filter(pmod(col("p_partkey"), lit(10)) =!= 0), "p_name")
      graft.er.EntityResolution.incrementalEntityMatchesIndexed(
        part.filter(pmod(col("p_partkey"), lit(10)) === 0), idx,
        "p_partkey", "p_name", maxDist = 2)
    },
      // er4 is the SAME answer through the persisted NameIndex (the
      // d15/d16 oracle relationship: one semantic truth, two paths)
      Sql(erIncrementalSql))))
}
