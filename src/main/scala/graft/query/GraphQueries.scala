package graft
package query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `g` family: link-graph analytics over the clickstream, in the
  * Common Crawl host-ranking shape: pages are vertices and consecutive
  * per-user views are weighted directed edges.
  */
private[graft] object GraphQueries {

  /** The g-family edge DERIVATION: per-user page-transition edges, pages
    * keyed `event_id % 50` so the DuckDB oracle can replay it. Queries
    * consume it through [[graphEdges]]' persisted index; this inline form
    * is what the cold build evaluates (and what EdgeIndexSpec's parity
    * gate compares against).
    */
  private[graft] def graphEdgesInline(s: SparkSession, d: String): DataFrame =
    graft.graph.Graph.transitionEdges(
      Tables.events(s, d).withColumn("page", pmod(col("event_id"), lit(50L))),
      "user_id", "page", "ts", "event_id")

  /** Shared g-family input: [[graphEdgesInline]] behind the persisted
    * bucketed [[graft.graph.EdgeIndex]] — the derivation (the only
    * data-sized term in the family: one lag window over the raw event
    * log) is paid once per events snapshot; g1–g8 then scan the
    * src-bucketed page-pair universe.
    */
  private def graphEdges(s: SparkSession, d: String): DataFrame =
    graft.graph.EdgeIndex.ensure(s, d, "page50", graphEdgesInline(s, d))

  /** g5's oracle — the undirected reachability closure (min reachable
    * id per page); also g13's (fold == one-shot). */
  private lazy val componentsSql: String =
    s"""WITH RECURSIVE $graphEdgeCte,
       |ed AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
       |n AS (SELECT DISTINCT src AS id FROM ed),
       |reach(id, r) AS (
       |  SELECT id, id FROM n
       |  UNION
       |  SELECT ed.src, reach.r FROM ed JOIN reach ON reach.id = ed.dst)
       |SELECT id AS page, min(r) AS component FROM reach GROUP BY id""".stripMargin

  /** g10's oracle — [[graft.graph.Graph.labelPropagation]]'s 4 rounds
    * unrolled as CTEs; also g12's (resume∘snapshot == one-shot). */
  private lazy val lpaSql: String =
    s"""WITH $graphEdgeCte,
       |ns AS (SELECT src, dst, n_trans FROM e WHERE src <> dst),
       |und AS (SELECT a, b, sum(c) AS w FROM (
       |    SELECT src AS a, dst AS b, n_trans AS c FROM ns
       |    UNION ALL SELECT dst AS a, src AS b, n_trans AS c FROM ns) GROUP BY a, b),
       |v AS (SELECT DISTINCT page FROM (SELECT src AS page FROM e UNION ALL SELECT dst AS page FROM e)),
       |l0 AS (SELECT page, page AS l FROM v),
       |${lpaRound(1)},
       |${lpaRound(2)},
       |${lpaRound(3)},
       |${lpaRound(4)}
       |SELECT page, l AS community FROM l4""".stripMargin

  /** One synchronous LPA round as a CTE: `l<i>` re-labels every vertex
    * with the (total incident weight DESC, label ASC) winner over its
    * neighbors' `l<i-1>` labels, keeping the old label where no
    * neighbor votes exist — the literal replay of one
    * [[graft.graph.Graph.labelPropagation]] iteration.
    */
  private def lpaRound(i: Int): String =
    s"""l$i AS (SELECT lv.page, coalesce(w.nl, lv.l) AS l FROM l${i - 1} lv LEFT JOIN (
       |    SELECT a, l AS nl FROM (
       |      SELECT und.a, lb.l, row_number() OVER (
       |          PARTITION BY und.a ORDER BY sum(und.w) DESC, lb.l ASC) AS rk
       |      FROM und JOIN l${i - 1} lb ON und.b = lb.page
       |      GROUP BY und.a, lb.l) WHERE rk = 1) w ON lv.page = w.a)""".stripMargin

  /** Shared g-family oracle CTE: the per-user page-transition edge list
    * (the exact lag/groupBy recipe of [[graphEdges]]).
    */
  private lazy val graphEdgeCte: String =
    """e AS (SELECT src, page AS dst, count(*) AS n_trans FROM (
      |    SELECT user_id, event_id % 50 AS page,
      |           lag(event_id % 50) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
      |    FROM events) WHERE src IS NOT NULL GROUP BY src, page)""".stripMargin

  /** Shared builder for the PageRank-family oracles: the unrolled
    * d$i/c$i/r$i CTE scaffolding (dangling mass as a decimal-staged sum,
    * contributions via the weight join) is identical between g2 and g8 —
    * only the init expression, the per-iteration rank expression (with
    * `{i}` substituted), any extra CTE (g2's vertex count `n`) and its
    * cross-join differ. One copy keeps a numeric-discipline change from
    * diverging between the two oracles.
    */
  private def unrolledPageRankSql(r0Select: String, extraCte: String,
                                  extraCross: String, rankExpr: String,
                                  outName: String): String = {
    val iters = (0 until 3).map { i =>
      s"""d$i AS (SELECT CAST(coalesce(sum(CAST(r AS DECIMAL(20,10))), 0) AS DOUBLE) AS dm
         |  FROM r$i WHERE page NOT IN (SELECT src FROM ot)),
         |c$i AS (SELECT w.dst AS page, CAST(sum(CAST(r$i.r * w.w AS DECIMAL(20,10))) AS DOUBLE) AS c
         |  FROM r$i JOIN w ON r$i.page = w.src GROUP BY w.dst),
         |r${i + 1} AS (SELECT v.page,
         |    ${rankExpr.replace("{i}", i.toString)} AS r
         |  FROM v$extraCross CROSS JOIN d$i LEFT JOIN c$i ON v.page = c$i.page)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgeCte,
       |v AS (SELECT DISTINCT page FROM (SELECT src AS page FROM e UNION ALL SELECT dst AS page FROM e)),
       |${extraCte}ot AS (SELECT src, sum(n_trans) AS tot FROM e GROUP BY src),
       |w AS (SELECT src, dst, CAST(n_trans AS DOUBLE) / CAST(tot AS DOUBLE) AS w FROM e JOIN ot USING (src)),
       |r0 AS ($r0Select),
       |$iters
       |SELECT page, round(r * 1000000) / 1000000.0 + 0.0 AS $outName FROM r3""".stripMargin
  }

  /** g2's oracle: [[graft.graph.Graph.pageRank]] unrolled — 3 power
    * iterations with dangling-mass redistribution. Every double literal
    * is CAST in DOUBLE space so both engines bind identical bits
    * (DuckDB's decimal folding of `1 - 0.85` differs from the JVM's),
    * and every sum of doubles accumulates as DECIMAL(20,10).
    */
  private lazy val pageRankSql: String = unrolledPageRankSql(
    r0Select = "SELECT page, CAST(1 AS DOUBLE) / n.n AS r FROM v CROSS JOIN n",
    extraCte = "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),\n",
    extraCross = " CROSS JOIN n",
    rankExpr = """(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
      |    + CAST(0.85 AS DOUBLE) * (coalesce(c{i}.c, CAST(0 AS DOUBLE)) + d{i}.dm / n.n)""".stripMargin,
    outName = "pr")

  /** g8's oracle: [[graft.graph.Graph.personalizedPageRank]] unrolled —
    * the pageRankSql shape with the teleport restricted to the seed
    * pages (uniform over |S| = 5). Seed-membership is a literal IN
    * list; the seed term is the single `(residual + d·dm) / |S|`
    * division the engine computes (NOT algebraically split — FP order
    * must match bit-for-bit).
    */
  private lazy val pprSql: String = unrolledPageRankSql(
    r0Select = """SELECT page,
      |  CASE WHEN page IN (0, 1, 2, 3, 4) THEN CAST(1 AS DOUBLE) / CAST(5 AS DOUBLE)
      |       ELSE CAST(0 AS DOUBLE) END AS r FROM v""".stripMargin,
    extraCte = "",
    extraCross = "",
    rankExpr = """CAST(0.85 AS DOUBLE) * coalesce(c{i}.c, CAST(0 AS DOUBLE))
      |    + CASE WHEN v.page IN (0, 1, 2, 3, 4)
      |        THEN (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)
      |              + CAST(0.85 AS DOUBLE) * d{i}.dm) / CAST(5 AS DOUBLE)
      |        ELSE CAST(0 AS DOUBLE) END""".stripMargin,
    outName = "ppr")

  /** g1's oracle, shared with g9 (same rows by design). */
  private val edgesSql: String =
    s"""WITH $graphEdgeCte
         |SELECT src, dst, n_trans FROM e""".stripMargin

  val family: Family = Family("g", "link-graph analytics (PageRank / harmonic / degrees / triangles)",
    impl = "graft.graph.Graph",
    specs = "GraphSpec, GraphPropertySpec", queries = Seq(
    // plan: the lag-window edge derivation is the one event scan every graph operator amortizes
    Query("g1_page_transitions", (s, d) => graphEdges(s, d),
      // g family: the lag-derived transition edge list, then PageRank /
      // degrees / triangles replayed relationally over it
      Sql(edgesSql)),

    // plan: the iteration dataflow stays scale-free past the EdgeIndex edge scan
    Query("g2_pagerank", (s, d) =>
      graft.graph.Graph.pageRank(graphEdges(s, d), iters = 3, damping = 0.85),
      Sql(pageRankSql)),

    Query("g3_degree_census", (s, d) =>
      graft.graph.Graph.degreeCensus(graphEdges(s, d)),
      Sql(s"""WITH $graphEdgeCte,
         |o AS (SELECT src AS page, count(*) AS out_deg, sum(n_trans) AS out_trans FROM e GROUP BY src),
         |i AS (SELECT dst AS page, count(*) AS in_deg, sum(n_trans) AS in_trans FROM e GROUP BY dst)
         |SELECT page, coalesce(out_deg, 0) AS out_deg, CAST(coalesce(out_trans, 0) AS BIGINT) AS out_trans,
         |  coalesce(in_deg, 0) AS in_deg, CAST(coalesce(in_trans, 0) AS BIGINT) AS in_trans
         |FROM o FULL OUTER JOIN i USING (page)""".stripMargin)),

    // plan: the wedge joins run over the page-pair domain
    Query("g4_triangle_census", (s, d) =>
      graft.graph.Graph.triangleCensus(graphEdges(s, d)),
      // the oracle enumerates {a<b<c} triangles by the naive triple join —
      // the engine's degree-ordered orientation finds the identical set
      Sql(s"""WITH $graphEdgeCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |corners AS (SELECT x AS page FROM tri UNION ALL SELECT y AS page FROM tri UNION ALL SELECT z AS page FROM tri)
         |SELECT page, count(*) AS n_triangles FROM corners GROUP BY page""".stripMargin)),

    // plan: rides the dedup closure over the page-pair domain
    Query("g5_page_components", (s, d) =>
      graft.graph.Graph.components(graphEdges(s, d)),
      // undirected closure over the edge list via the recursive min-label
      // CTE (the m18/er2 closure-oracle pattern)
      Sql(componentsSql)),

    // plan: the frontier joins run over the page-pair domain
    Query("g6_harmonic_centrality", (s, d) =>
      graft.graph.Graph.harmonicCentrality(graphEdges(s, d), maxDist = 6),
      // bounded-radius harmonic centrality: directed shortest distances
      // via a depth-bounded recursive walk (min over path lengths), then
      // the exact-rational sum — 60//d is an exact integer for d ≤ 6, one
      // correctly-rounded double division at the end (Graph scaladoc)
      Sql(s"""WITH RECURSIVE $graphEdgeCte,
         |ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
         |n AS (SELECT DISTINCT page FROM
         |  (SELECT src AS page FROM e UNION ALL SELECT dst FROM e)),
         |walk(src, dst, d) AS (
         |  SELECT src, dst, 1 FROM ed
         |  UNION
         |  SELECT w.src, ed.dst, w.d + 1 FROM walk w JOIN ed ON w.dst = ed.src
         |  WHERE w.d < 6),
         |sp AS (SELECT src, dst, min(d) AS d FROM walk WHERE src <> dst GROUP BY src, dst),
         |h AS (SELECT dst AS page, CAST(sum(60 // d) AS DOUBLE) / 60 AS harmonic FROM sp GROUP BY dst)
         |SELECT n.page, coalesce(h.harmonic, CAST(0 AS DOUBLE)) AS harmonic
         |FROM n LEFT JOIN h USING (page)""".stripMargin)),

    // plan: the relaxations are sketch joins and union aggregates only
    Query("g7_harmonic_hyperball", (s, d) =>
      graft.graph.Graph.harmonicCentralityHyperBall(graphEdges(s, d), maxDist = 6),
      // HyperBall shares the exact form's oracle: at page-domain ball
      // sizes the HLL sketch is in exact coupon-list mode (Graph
      // scaladoc), so the estimates ARE the true ball sizes; g7 publishes
      // 6-dp-rounded values because its per-depth Δ/t accumulation can
      // differ from the exact lcm-rational division by 1 ulp
      Sql(s"""WITH RECURSIVE $graphEdgeCte,
         |ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
         |n AS (SELECT DISTINCT page FROM
         |  (SELECT src AS page FROM e UNION ALL SELECT dst FROM e)),
         |walk(src, dst, d) AS (
         |  SELECT src, dst, 1 FROM ed
         |  UNION
         |  SELECT w.src, ed.dst, w.d + 1 FROM walk w JOIN ed ON w.dst = ed.src
         |  WHERE w.d < 6),
         |sp AS (SELECT src, dst, min(d) AS d FROM walk WHERE src <> dst GROUP BY src, dst),
         |h AS (SELECT dst AS page, CAST(sum(60 // d) AS DOUBLE) / 60 AS harmonic FROM sp GROUP BY dst)
         |SELECT n.page,
         |  round(coalesce(h.harmonic, CAST(0 AS DOUBLE)) * 1000000) / 1000000.0 + 0.0 AS harmonic
         |FROM n LEFT JOIN h USING (page)""".stripMargin)),

    // plan: the iteration dataflow stays scale-free past the EdgeIndex edge scan
    Query("g8_personalized_pagerank", (s, d) =>
      graft.graph.Graph.personalizedPageRank(graphEdges(s, d),
        seeds = Seq(0L, 1L, 2L, 3L, 4L), iters = 3, damping = 0.85),
      // personalized PageRank unrolled like g2 — teleport (residual AND
      // dangling mass) lands on the 5 seed pages only; every double
      // literal CAST in double space, every sum decimal-staged, and the
      // seed term written as ONE (residual + d*dm)/|S| division exactly
      // as the engine computes it
      Sql(pprSql)),

    // the incremental edge-maintenance proof (the w18 shape on the edge
    // table): fold the event log in two time-split batches through the
    // per-user last-view state — the oracle replays the ONE-SHOT edge
    // derivation over the full log, so the hash match IS the
    // batch∘batch == one-shot contract
    // both standing frames (edge table + lastViews) from the persisted
    // StateStore artifacts (the w20 note: deployment shape, identical
    // hash) — only the batch term is derived per run
    // plan: the merge windows seed and batch only; the historical log is never re-scanned
    Query("g9_edges_incremental", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("page", pmod(col("event_id"), lit(50L)))
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      def early = ev.filter(col("ts") < cut)
      graft.graph.Graph.transitionEdgesIncrement(
        graft.StateStore.ensure(s, d, "events", "g9_edges_state",
          graft.graph.Graph.transitionEdges(early, "user_id", "page", "ts", "event_id")),
        graft.StateStore.ensure(s, d, "events", "g9_views_state",
          graft.graph.Graph.lastViews(early, "user_id", "page", "ts", "event_id")),
        ev.filter(col("ts") >= cut), "user_id", "page", "ts", "event_id")
    },
      // g9: the engine folds two time-split batches through the last-view
      // state; the oracle is the ONE-SHOT derivation over the full log
      Sql(edgesSql)),

    // community detection: weighted synchronous label propagation over
    // the symmetrized transition graph — all-long votes, min-label
    // ties, 4 unrolled rounds (the oracle replays them as CTEs)
    // plan: every round runs over the symmetrized page-pair universe, checkpointed once
    Query("g10_label_propagation", (s, d) =>
      graft.graph.Graph.labelPropagation(graphEdges(s, d), iters = 4),
      // g10: the engine's 4 synchronous rounds replayed literally as CTEs
      // — all-long votes and the (weight DESC, label ASC) winner pin make
      // the replay exact with no numeric discipline needed at all
      Sql(lpaSql)),

    // warm-start re-rank (g11): resume from the 2-iteration RAW rank
    // snapshot for 1 more iteration — bit-exactly the 3-iteration
    // one-shot (shared init/step expressions, order-independent decimal
    // sums), so the oracle IS g2's unrolled 3-iteration SQL: the
    // snapshot seam is engine-side only, the w18/g9 one-truth pattern
    // plan: g2's per-iteration dataflow plus one snapshot join at init
    Query("g11_pagerank_resume", (s, d) => {
      val e = graphEdges(s, d)
      // fused snapshot→resume over one prepared universe (r21): the
      // resume seam and every expression are the two-call form's — the
      // two-call form re-paid the edge checkpoint + weight normalization
      // for each phase
      graft.graph.Graph.pageRankSnapshotResume(e, iters = 2, extraIters = 1)
    },
      // g11: the engine resumes a 2-iteration raw snapshot for 1 more
      // iteration; the oracle is the ONE-SHOT 3-iteration unrolled SQL —
      // the hash match IS the resume∘snapshot == one-shot contract
      Sql(pageRankSql)),

    // warm-start community refresh (g12): resume from the 2-round RAW
    // label snapshot for 2 more rounds — bit-exactly the 4-round
    // one-shot (shared init/step/publish, all-long state), so the
    // oracle IS g10's unrolled 4-round SQL: the snapshot seam is
    // engine-side only, the g11/w18/g9 one-truth pattern
    // plan: g10's one-exchange-per-round shape plus one snapshot join at init
    Query("g12_lpa_resume", (s, d) => {
      val e = graphEdges(s, d)
      // fused snapshot→resume over one prepared universe (r21, the g11
      // note): same seam, same expressions, one edge checkpoint +
      // pair-domain count instead of two
      graft.graph.Graph.labelPropagationSnapshotResume(e, iters = 2, extraIters = 2)
    },
      // g12: the engine resumes a 2-round raw label snapshot for 2 more
      // rounds; the oracle is g10's ONE-SHOT 4-round unrolled SQL — the
      // hash match IS the resume∘snapshot == one-shot contract
      Sql(lpaSql)),

    // incremental components (g13): half the edge table is "history"
    // (labeled once), the other half folds in as the batch — exactly
    // the one-shot labeling over everything (min-id labels make star
    // contraction exact), so the oracle IS g5's recursive closure SQL:
    // the batch seam is engine-side only, the one-truth pattern
    Query("g13_components_incremental", (s, d) => {
      val e = graphEdges(s, d)
      val half = pmod(col("src") + col("dst"), lit(2)) === 0
      graft.graph.Graph.componentsIncrement(
        graft.graph.Graph.components(e.filter(half)), e.filter(!half))
    },
      // g13: the engine folds the odd-half edge batch into the even-half
      // labeling; the oracle is g5's ONE-SHOT closure over ALL edges —
      // the hash match IS the fold == one-shot contract
      Sql(componentsSql))))
}
