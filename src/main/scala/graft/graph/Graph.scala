package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph analytics over event streams — the curation rung that ranks
  * WHERE training data comes from, not what it says. Web-scale corpus
  * pipelines rank crawl frontiers and weight sources by link-graph
  * centrality (Common Crawl publishes harmonic-centrality/PageRank host
  * rankings for exactly this use), and a clickstream is the same shape:
  * pages are vertices, consecutive views are weighted directed edges.
  *
  * Scale posture: every operator is edges-relational — no adjacency
  * structure is ever materialized driver-side. [[pageRank]] is the
  * classic iterated join+aggregate (one shuffle on `src`, one on `dst`
  * per iteration; at 100 TB you bucket the edge table by `src` once so
  * the rank⋈edge join reuses that layout every iteration, and AQE
  * splits hub-page skew). [[triangleCensus]] uses the degree-ordered
  * orientation (Suri & Vassilvitskii, "Counting triangles and the curse
  * of the last reducer", WWW 2011): wedges fan out from each edge's
  * LOWER-degree endpoint, bounding per-vertex wedge count by O(√|E|)
  * on any graph — the id-ordered naive self-join would square a hub's
  * degree instead.
  *
  * Numeric discipline (cross-engine, the t17/dsir recipe): per-row
  * arithmetic stays in IEEE double (deterministic on both engines);
  * every SUM of doubles goes through DECIMAL(20,10) so partial-
  * aggregation order cannot perturb bits; integer totals sum as longs
  * (exact). Literals that must match the DuckDB oracle are written so
  * both engines bind the same double (`1 - 0.85` is computed IN DOUBLE
  * on both sides — DuckDB's decimal constant-folding would yield a
  * different 0.15 than the JVM's).
  *
  * Reference analog: none — the reference has no graph surface; this
  * family extends the engine toward source-ranking curation.
  */
object Graph {

  /** Weighted page-transition edges from an event log: for each user,
    * order events by (`tsCol`, `tieCol`) and emit one edge per
    * consecutive pair of pages, then count multiplicity. The lag window
    * is one shuffle on the user key (bounded per-user state); the edge
    * aggregate map-side-combines on (src, dst), so output size is the
    * DISTINCT transition universe — at 100 TB of events this is the
    * page-pair domain, which grows far slower than the event count.
    */
  def transitionEdges(events: DataFrame, userCol: String, pageCol: String,
                      tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("__src", lag(col(pageCol), 1).over(w))
      .filter(col("__src").isNotNull)
      .groupBy(col("__src").as("src"), col(pageCol).as("dst"))
      .agg(count(lit(1)).as("n_trans"))
  }

  /** Per-user LAST-view state — the cross-batch boundary record
    * [[transitionEdgesIncrement]] folds against (the batch twin of
    * [[graft.streaming.Streaming]]'s per-user LastView GroupState): one
    * row per user carrying the (ts, tie)-max event's page, via a single
    * struct-max aggregate (map-side combined; user-domain-sized output).
    * Columns keep the caller's names, so the frame IS event-shaped and
    * re-enters the lag window as seed rows directly.
    */
  def lastViews(events: DataFrame, userCol: String, pageCol: String,
                tsCol: String, tieCol: String): DataFrame =
    events.groupBy(col(userCol))
      .agg(max(struct(col(tsCol).as("t"), col(tieCol).as("k"),
        col(pageCol).as("p"))).as("__s"))
      .select(col(userCol), col("__s.p").as(pageCol),
        col("__s.t").as(tsCol), col("__s.k").as(tieCol))

  /** [[lastViews]] rolled forward by one batch: the (ts, tie)-argmax
    * over standing ∪ batch — what the next
    * [[transitionEdgesIncrement]] call takes as its standing views.
    */
  def lastViewsApply(standing: DataFrame, batch: DataFrame, userCol: String,
                     pageCol: String, tsCol: String, tieCol: String): DataFrame =
    lastViews(standing.select(col(userCol), col(pageCol), col(tsCol), col(tieCol))
      .unionByName(batch.select(col(userCol), col(pageCol), col(tsCol), col(tieCol))),
      userCol, pageCol, tsCol, tieCol)

  /** Incremental transition edges — [[transitionEdges]]' per-ingest-batch
    * form (the d17/w18 "only the batch pays" pattern applied to the edge
    * table):
    * merge one batch of events into a STANDING (src, dst, n_trans) edge
    * table using the per-user [[lastViews]] state to link transitions
    * ACROSS the batch boundary (without it, each batch's first view per
    * user would silently lose its incoming edge). The lag window runs
    * over seed∪batch only — one batch's arrivals plus one row per
    * standing user — and the merge is one (src, dst) sum; the raw
    * historical log is never re-scanned. At 100 TB the standing side is
    * the page-pair universe plus the active-user domain, both sublinear
    * in events; write the merged result through [[EdgeIndex]]'s seam to
    * keep consumers on the bucketed layout.
    *
    * Contract (the streaming twin's ordering contract, batch-granular):
    * the log is append-only — a batch row at or before its user's last
    * folded view drops before the window (it can neither rewrite folded
    * transitions nor emit new ones mid-history). Under that contract,
    * folding a time-split log batch-by-batch yields EXACTLY the one-shot
    * [[transitionEdges]] table — the g9 oracle replays the one-shot SQL
    * over the full log against the two-step engine path, and GraphSpec
    * gates random multi-way splits. A seed row with no batch successors
    * emits nothing (lag's first row has no predecessor), so untouched
    * users cost one scanned row and no output.
    */
  def transitionEdgesIncrement(standingEdges: DataFrame, standingViews: DataFrame,
                               batch: DataFrame, userCol: String, pageCol: String,
                               tsCol: String, tieCol: String): DataFrame = {
    require(standingEdges.columns.toSeq == Seq("src", "dst", "n_trans"),
      s"standingEdges must be (src, dst, n_trans); got " +
        s"${standingEdges.columns.mkString(", ")}")
    standingEdges
      .unionByName(transitionEdgesDelta(standingViews, batch,
        userCol, pageCol, tsCol, tieCol))
      .groupBy("src", "dst").agg(sum(col("n_trans")).as("n_trans"))
  }

  /** The batch's edge-count INCREMENTS alone — [[transitionEdgesIncrement]]
    * without the standing merge (exposed for [[EdgeIndex.append]], which
    * owns the merge so the persisted table absorbs the batch in place):
    * the lag window over seed∪batch-live rows, where the seed is one
    * [[lastViews]] row per standing user linking transitions across the
    * batch boundary. Same append-only ordering contract as the merged
    * form (a batch row at or before its user's last folded view drops
    * before the window).
    */
  def transitionEdgesDelta(standingViews: DataFrame, batch: DataFrame,
                           userCol: String, pageCol: String,
                           tsCol: String, tieCol: String): DataFrame = {
    val views = standingViews
      .select(col(userCol), col(pageCol), col(tsCol), col(tieCol))
    val live = batch
      .select(col(userCol), col(pageCol), col(tsCol), col(tieCol))
      .join(views.select(col(userCol), col(tsCol).as("__lts"),
        col(tieCol).as("__ltie")), Seq(userCol), "left")
      .filter(col("__lts").isNull || col(tsCol) > col("__lts") ||
        (col(tsCol) === col("__lts") && col(tieCol) > col("__ltie")))
      .select(col(userCol), col(pageCol), col(tsCol), col(tieCol))
    transitionEdges(views.unionByName(live), userCol, pageCol, tsCol, tieCol)
  }

  /** Shared relational core of the PageRank family: checkpointed edge
    * frame, vertex universe, out-weight normalization, and `iters`
    * unrolled (dangling-mass, contribution) steps — [[pageRank]] and
    * [[personalizedPageRank]] differ ONLY in the init vector and the
    * per-iteration teleport term, so those arrive as callbacks (a fix
    * to the shared dataflow lands once). Both callbacks receive the
    * vertex frame; `step` also gets the 1-row dangling-mass frame and
    * the per-page contribution aggregate, and must return (page, __r).
    */
  private def powerIterate(edges: DataFrame, iters: Int, srcCol: String,
                           dstCol: String, weightCol: String, outCol: String,
                           raw: Boolean = false)(
      init: DataFrame => DataFrame)(
      step: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val env = powerEnv(edges, srcCol, dstCol, weightCol)
    val ranks = powerRounds(env, iters, init, step)
    if (raw) ranks.select(col("page"), col("__r").as(outCol))
    else ranks.select(col("page"),
      (round(col("__r") * 1000000) / 1000000.0 + lit(0.0)).as(outCol))
  }

  /** The prepared power-iteration universe: checkpointed normalized edge
    * weights, the vertex frame, and the out-edge source set — split from
    * [[powerIterate]] so the fused snapshot→resume shape
    * ([[pageRankSnapshotResume]]) can run BOTH phases over one prepared
    * universe instead of re-paying the edge checkpoint per phase.
    */
  private final case class PowerEnv(verts: DataFrame, wEdges: DataFrame,
                                    outSrc: DataFrame)

  private def powerEnv(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String): PowerEnv = {
    // weights sum as EXACT longs before the one double division that
    // normalizes them (the "exact long division into double" contract
    // with the oracle) — a fractional weight column would silently
    // truncate to garbage (0.5 -> 0 -> null weights -> pure-teleport
    // ranks with no error), so it is rejected loudly; pre-scale
    // fractional weights to integers (multiplicities, micro-units)
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(edges.schema(weightCol).dataType),
      s"weightCol '$weightCol' must be an integral type (counts); got " +
        s"${edges.schema(weightCol).dataType.simpleString} — pre-scale " +
        "fractional weights to integers")
    // materialize the edge list ONCE (the dupClusters discipline):
    // vertices, out-totals, weights and every iteration's propagation
    // join all consume it — un-checkpointed, each consumer re-runs the
    // caller's whole derivation pipeline (the lag window over the raw
    // events), measured at 1.43 s -> 0.60 s for g2 at sf0.1
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("__c")).localCheckpoint()
    val verts = e.select(col("src").as("page"))
      .union(e.select(col("dst").as("page"))).distinct()
    val outTot = e.groupBy("src").agg(sum(col("__c")).as("__tot"))
    val wEdges = e.join(outTot, "src")
      .select(col("src"), col("dst"),
        (col("__c").cast("double") / col("__tot").cast("double")).as("__w"))
    val outSrc = outTot.select(col("src").as("page"))
    PowerEnv(verts, wEdges, outSrc)
  }

  /** `iters` unrolled (dangling-mass, contribution) steps from
    * `init(verts)` over a prepared [[PowerEnv]] — the iteration body of
    * [[powerIterate]], one copy so the fused snapshot→resume path cannot
    * drift numerically from the one-shot.
    */
  private def powerRounds(env: PowerEnv, iters: Int,
      init: DataFrame => DataFrame,
      step: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    var ranks = init(env.verts)
    for (_ <- 0 until iters) {
      // each iteration consumes the rank frame TWICE (dangling mass and
      // contributions) — un-checkpointed, the lazy plan embeds two
      // copies of the previous rank subtree and grows as 2^iters
      // (intractable for Catalyst past ~a dozen iterations; the
      // harmonicCentrality frontiers checkpoint for the same reason).
      // Short unrollings skip it: at iters ≤ 4 the ≤ 16-copy plan is
      // cheaper than the eager materializations (measured ~0.45 s of
      // checkpoint cost on g2's 3 iterations at sf0.1). Values are
      // bit-unchanged either way: checkpointing moves where the
      // doubles live, not one bit of them
      if (iters > 4) ranks = ranks.localCheckpoint()
      val dm = ranks.join(env.outSrc, Seq("page"), "left_anti")
        .agg(coalesce(sum(col("__r").cast("decimal(20,10)")),
          lit(0).cast("decimal(20,10)")).cast("double").as("__dm"))
      val contrib = ranks.withColumnRenamed("page", "src")
        .join(env.wEdges, "src")
        .groupBy(col("dst").as("page"))
        .agg(sum((col("__r") * col("__w")).cast("decimal(20,10)"))
          .cast("double").as("__contrib"))
      ranks = step(env.verts, dm, contrib)
    }
    ranks
  }

  private def prVertexCount(verts: DataFrame) =
    verts.agg(count(lit(1)).cast("double").as("__n"))

  /** The shared pageRank update step — one copy so [[pageRank]],
    * [[pageRankSnapshot]] and [[pageRankResume]] cannot drift numerically
    * (bit-exact resume depends on the identical expression tree).
    */
  private def prStep(damping: Double)(
      verts: DataFrame, dm: DataFrame, contrib: DataFrame): DataFrame = {
    // residual computed in DOUBLE on the JVM; the oracle writes
    // CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE) so both engines bind the
    // identical 0.15000000000000002, not decimal-folded 0.15
    val residual = 1.0 - damping
    verts.crossJoin(broadcast(prVertexCount(verts))).crossJoin(broadcast(dm))
      .join(contrib, Seq("page"), "left")
      .select(col("page"),
        (lit(residual) / col("__n") +
          lit(damping) * (coalesce(col("__contrib"), lit(0.0)) +
            col("__dm") / col("__n"))).as("__r"))
  }

  /** PageRank with proper dangling-mass redistribution, `iters`
    * relationally-unrolled power iterations (no driver-side state — the
    * whole computation is ONE lazy plan an oracle can replay as
    * unrolled CTEs). Edge weight = multiplicity / out-total (exact long
    * division into double); rank init = 1/N; update
    * `r' = (1-d)/N + d·(Σ_in r·w + dangling/N)` where `dangling` is the
    * decimal-stable sum of ranks on vertices with no out-edges.
    *
    * Per iteration the rank frame (one row per vertex) joins edges on
    * `src` and re-aggregates on `dst` — the standard distributed shape.
    * The three scalar frames (N, dangling mass) are 1-row broadcasts.
    * At URL scale the rank frame is billions of rows: bucket edges by
    * `src` so the per-iteration join reuses one layout, and let AQE
    * split hub skew; nothing here holds per-vertex state off-plan.
    * Output: (page, pr) with pr rounded to 6 via the decimal-stable
    * round trick.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               weightCol: String = "n_trans"): DataFrame =
    powerIterate(edges, iters, srcCol, dstCol, weightCol, "pr") { verts =>
      verts.crossJoin(broadcast(prVertexCount(verts)))
        .select(col("page"), (lit(1.0) / col("__n")).as("__r"))
    }(prStep(damping))

  /** [[pageRank]]'s UNROUNDED rank state after `iters` iterations —
    * (page, pr_raw), the warm-start artifact a re-crawl's re-rank
    * resumes from via [[pageRankResume]]. Raw doubles on purpose: the
    * published 6-dp rounding is presentation, and resuming from rounded
    * ranks would break the resume == one-shot identity. Persist it like
    * any snapshot (parquet round-trips doubles bit-exactly).
    */
  def pageRankSnapshot(edges: DataFrame, iters: Int = 3,
                       damping: Double = 0.85, srcCol: String = "src",
                       dstCol: String = "dst",
                       weightCol: String = "n_trans"): DataFrame =
    powerIterate(edges, iters, srcCol, dstCol, weightCol, "pr_raw",
      raw = true) { verts =>
      verts.crossJoin(broadcast(prVertexCount(verts)))
        .select(col("page"), (lit(1.0) / col("__n")).as("__r"))
    }(prStep(damping))

  /** Warm-start PageRank — the re-crawl re-rank (rankings are
    * republished per crawl; paying the full power iteration from uniform
    * ranks every time wastes the previous run's convergence): `extraIters`
    * iterations starting from a previous [[pageRankSnapshot]]'s raw
    * ranks instead of 1/N. On UNCHANGED edges,
    * `resume(snapshot(n), k) == pageRank(n + k)` BIT-EXACTLY — the
    * update is a pure function of (ranks, edges), the decimal-staged
    * sums are order-independent, and init/step/rounding are the same
    * shared expressions (the g11 oracle replays the one-shot unrolled
    * SQL against the two-step engine path). On an appended edge table
    * (the [[transitionEdgesIncrement]] output) the identity becomes a
    * warm start: pages absent from the snapshot seed at 1/N, and the
    * iteration converges to the same fixed point as cold (the update is
    * a contraction — init changes the path, not the limit) in fewer
    * rounds because surviving pages start near it.
    *
    * Scale shape identical to [[pageRank]] (one rank⋈edges join +
    * re-agg per iteration); the snapshot join is one extra rank-sized
    * hash join at init.
    */
  def pageRankResume(edges: DataFrame, prevRanks: DataFrame,
                     extraIters: Int, damping: Double = 0.85,
                     srcCol: String = "src", dstCol: String = "dst",
                     weightCol: String = "n_trans"): DataFrame = {
    require(prevRanks.columns.toSeq == Seq("page", "pr_raw"),
      s"prevRanks must be a (page, pr_raw) frame (pageRankSnapshot's " +
        s"shape); got ${prevRanks.columns.mkString(", ")}")
    powerIterate(edges, extraIters, srcCol, dstCol, weightCol, "pr") { verts =>
      verts.crossJoin(broadcast(prVertexCount(verts)))
        .join(prevRanks, Seq("page"), "left")
        .select(col("page"),
          coalesce(col("pr_raw"), lit(1.0) / col("__n")).as("__r"))
    }(prStep(damping))
  }

  /** [[pageRankSnapshot]] then [[pageRankResume]] fused over ONE
    * prepared universe — the registered warm-start proof shape (g11)
    * without paying the edge checkpoint + weight normalization twice:
    * the caller-visible seam is unchanged (the resume phase inits from
    * the snapshot's (page, pr_raw) frame through the same coalesce, and
    * both phases run the shared [[powerRounds]]/[[prStep]] expressions),
    * so `snapshotResume(n, k) == pageRank(n + k)` BIT-EXACTLY, as for
    * the two-call form. Use the two-call form when the snapshot actually
    * persists between runs.
    */
  def pageRankSnapshotResume(edges: DataFrame, iters: Int, extraIters: Int,
                             damping: Double = 0.85, srcCol: String = "src",
                             dstCol: String = "dst",
                             weightCol: String = "n_trans"): DataFrame = {
    val env = powerEnv(edges, srcCol, dstCol, weightCol)
    val snap = powerRounds(env, iters, verts =>
      verts.crossJoin(broadcast(prVertexCount(verts)))
        .select(col("page"), (lit(1.0) / col("__n")).as("__r")),
      prStep(damping))
      .select(col("page"), col("__r").as("pr_raw"))
    val resumed = powerRounds(env, extraIters, verts =>
      verts.crossJoin(broadcast(prVertexCount(verts)))
        .join(snap, Seq("page"), "left")
        .select(col("page"),
          coalesce(col("pr_raw"), lit(1.0) / col("__n")).as("__r")),
      prStep(damping))
    resumed.select(col("page"),
      (round(col("__r") * 1000000) / 1000000.0 + lit(0.0)).as("pr"))
  }

  /** Personalized PageRank — [[pageRank]] with the teleport restricted
    * to a seed set (uniform over `seeds`): the crawl-frontier scoring
    * variant ("rank the web as seen from these trusted hosts"), and the
    * standard relatedness measure around a vertex set. Same unrolled
    * relational shape, same decimal-stabilized sums, same per-iteration
    * dataflow (rank⋈edges on `src`, re-agg on `dst`); the residual AND
    * the dangling mass both teleport to the seeds —
    * `r'(v) = d·Σ_in r·w + [v ∈ S]·(1−d + d·dangling)/|S|` — so total
    * mass stays 1 when every seed exists in the graph. A seed absent
    * from the vertex universe leaks its teleport share BY DESIGN (there
    * is no row to carry it); pass pages that exist. Output: (page, ppr)
    * rounded to 6 dp like [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long], iters: Int = 3,
                           damping: Double = 0.85, srcCol: String = "src",
                           dstCol: String = "dst",
                           weightCol: String = "n_trans"): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed page")
    val residual = 1.0 - damping
    val nSeeds = seeds.size.toDouble
    val isSeed = col("page").isin(seeds: _*)
    powerIterate(edges, iters, srcCol, dstCol, weightCol, "ppr") { verts =>
      verts.select(col("page"),
        when(isSeed, lit(1.0) / lit(nSeeds)).otherwise(lit(0.0)).as("__r"))
    } { (verts, dm, contrib) =>
      verts.crossJoin(broadcast(dm))
        .join(contrib, Seq("page"), "left")
        .select(col("page"),
          (lit(damping) * coalesce(col("__contrib"), lit(0.0)) +
            when(isSeed,
              (lit(residual) + lit(damping) * col("__dm")) / lit(nSeeds))
              .otherwise(lit(0.0))).as("__r"))
    }
  }

  /** In/out degree and transition-count census per page — the full-outer
    * join of the two one-shuffle aggregates, zero-filled. The profile a
    * source-weighting step reads (hubs, sinks, dead ends).
    */
  def degreeCensus(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst", weightCol: String = "n_trans"): DataFrame = {
    // two aggregations consume the edge list — materialize it once
    // rather than re-deriving it per side (x100-probe evidence: g3 read
    // 7.2x vs g1's 2.8x purely from the doubled derivation)
    val e = edges.localCheckpoint()
    val o = e.groupBy(col(srcCol).as("page"))
      .agg(count(lit(1)).as("out_deg"), sum(col(weightCol)).cast("long").as("out_trans"))
    val i = e.groupBy(col(dstCol).as("page"))
      .agg(count(lit(1)).as("in_deg"), sum(col(weightCol)).cast("long").as("in_trans"))
    o.join(i, Seq("page"), "full_outer")
      .na.fill(0L, Seq("out_deg", "out_trans", "in_deg", "in_trans"))
  }

  /** Connected components of the transition graph, treated undirected —
    * the navigation-cluster view a site-structure or crawl-frontier
    * analysis reads. Reuses the dedup closure machinery
    * ([[graft.dedup.Dedup.dupClusters]]): driver path-compressed
    * union-find under the 4M-edge budget, distributed min-label pointer
    * jumping above it — both yielding the identical (page,
    * min-reachable-page) labeling. Output: (page, component).
    */
  def components(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst"): DataFrame =
    graft.dedup.Dedup.dupClusters(
      edges.select(col(srcCol).as("id1"), col(dstCol).as("id2")))
      .select(col("id").as("page"), col("label").as("component"))

  /** Incremental connected components — the maintenance rung for
    * [[components]] (the g9/g11/g12 pattern: only the batch pays):
    * fold a batch of NEW edges into a previous labeling without
    * re-scanning the historical edge log. Standard union-find
    * batching: the old (page, component) labels re-enter as edges of
    * the CONTRACTED graph (each old component is one star around its
    * root), unioned with the batch edges, and one closure pass over
    * that reduced universe relabels everything — batch edges that
    * bridge two old components merge them, brand-new vertices appear
    * as their own.
    *
    * EXACTNESS: labels are minimum reachable page ids
    * ([[graft.dedup.Dedup.dupClusters]]'s contract), so every old root
    * is itself the minimum of a member subset, and the minimum over a
    * merged group of pages∪roots IS the minimum over its pages —
    * `fold(components(b1), b2) == components(b1 ∪ b2)` exactly, batch
    * by batch, in any batch order.
    *
    * Scale shape: the closure runs over |old components| + |batch|
    * edges — the star contraction collapses each historical component
    * to one row per member page with diameter 1, so the propagation
    * loop (or the budget-gated driver union-find) converges in one
    * hop over everything the batch didn't touch.
    */
  def componentsIncrement(prevLabels: DataFrame, batchEdges: DataFrame,
                          srcCol: String = "src",
                          dstCol: String = "dst"): DataFrame = {
    require(prevLabels.columns.toSeq == Seq("page", "component"),
      s"prevLabels must be a (page, component) frame (components' shape); " +
        s"got ${prevLabels.columns.mkString(", ")}")
    components(
      prevLabels.select(col("page").as("src"), col("component").as("dst"))
        .unionAll(batchEdges.select(col(srcCol).as("src"),
          col(dstCol).as("dst"))),
      "src", "dst")
  }

  /** Weighted synchronous label propagation (Raghavan et al. 2007) —
    * community detection over the transition graph, the clustering view
    * [[components]]' connectivity closure cannot give (one giant
    * component usually IS the whole site; communities are its internal
    * navigation neighborhoods). Edges are symmetrized (both directions,
    * weights summed per pair) and self-loops dropped (a self-vote says
    * nothing about neighborhoods); every vertex starts as its own label
    * and each of the `iters` synchronous rounds re-labels v with the
    * argmax over neighbor labels of the total incident edge weight,
    * ties broken by the MINIMUM label — the pinned total order that
    * makes the operator deterministic and oracle-able. Vertices with no
    * (non-self) neighbors keep their label.
    *
    * Determinism discipline: there is NO floating point anywhere —
    * weights are exact longs, votes are long sums, and the winner is
    * row_number over (sum DESC, label ASC) — so the result is
    * bit-identical cross-engine by construction (the DuckDB oracle
    * unrolls the same rounds as CTEs).
    *
    * Scale shape: everything runs over the DISTINCT page-pair universe
    * (the symmetrized edge table, checkpointed once — the
    * [[powerIterate]] discipline), and each round costs ONE shuffle:
    * the edge table is pre-partitioned on the neighbor key `b` before
    * its checkpoint (checkpoint preserves partitioning), the label
    * frame leaves every round hash-partitioned on the vertex — which
    * alias-propagates through the `page`→`b` rename — so the
    * edges⋈labels join needs no exchange on either side, and the vote
    * aggregation plus the argmax re-label both ride one explicit
    * repartition on the voted vertex (HashPartitioning(a) satisfies
    * both groupBy(a, label) and groupBy(a), so neither re-shuffles).
    * The argmax itself is `min(struct(-votes, label))` — votes are
    * exact longs, so the struct order IS (votes DESC, label ASC) and
    * no window sort is needed anywhere. Partition counts are pinned on
    * both seams so AQE coalescing cannot break the co-partitioning —
    * at a width derived from the materialized pair-domain size (capped
    * at the session parallelism), so tiny graphs don't pay empty-task
    * overhead per round.
    * There is no keep-label fallback join: a vertex with a (non-self)
    * neighbor receives votes EVERY round — its neighbors always carry
    * labels — so the winner frame covers the whole active universe,
    * and isolated vertices (whose label provably never moves) are
    * split off once and unioned back at the end. The label frame is
    * thus consumed once per round (linear plan growth); checkpointed
    * above 4 rounds anyway, the pageRank tradeoff.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4,
                       srcCol: String = "src", dstCol: String = "dst",
                       weightCol: String = "n_trans"): DataFrame = {
    val (verts, und, shufN) = lpaUniverse(edges, srcCol, dstCol, weightCol)
    val init = lpaActiveVertices(und, shufN)
      .select(col("page"), col("page").as("__l"))
    lpaPublish(lpaIterate(und, shufN, iters, init), verts)
  }

  /** [[labelPropagation]]'s RAW label state after `iters` rounds —
    * (page, l_raw) over the ACTIVE universe (vertices with a non-self
    * neighbor; isolated vertices provably never move and are re-derived
    * at publish time) — the warm-start artifact a re-crawl's community
    * refresh resumes from via [[labelPropagationResume]]. All-long
    * state, so the snapshot round-trips any sink bit-exactly.
    */
  def labelPropagationSnapshot(edges: DataFrame, iters: Int = 4,
                               srcCol: String = "src", dstCol: String = "dst",
                               weightCol: String = "n_trans"): DataFrame = {
    val (_, und, shufN) = lpaUniverse(edges, srcCol, dstCol, weightCol)
    val init = lpaActiveVertices(und, shufN)
      .select(col("page"), col("page").as("__l"))
    lpaIterate(und, shufN, iters, init)
      .select(col("page"), col("__l").as("l_raw"))
  }

  /** Warm-start label propagation — the re-crawl community refresh
    * (the [[pageRankResume]] story for communities): `extraIters`
    * synchronous rounds starting from a previous
    * [[labelPropagationSnapshot]] instead of self-labels. On UNCHANGED
    * edges, `resume(snapshot(n), k) == labelPropagation(n + k)`
    * BIT-EXACTLY — every round is a pure function of (labels, edges)
    * over exact longs, and init/step/publish are the same shared
    * expressions (the g12 oracle replays the one-shot unrolled CTEs
    * against the two-step engine path). On an appended edge table the
    * identity becomes a warm start: vertices absent from the snapshot
    * seed as their own label, and surviving neighborhoods keep their
    * converged labels instead of re-voting from scratch.
    *
    * Scale shape identical to [[labelPropagation]] (one shuffle per
    * round); the snapshot join is one extra label-sized hash join at
    * init, riding the same vertex partitioning.
    */
  def labelPropagationResume(edges: DataFrame, prevLabels: DataFrame,
                             extraIters: Int, srcCol: String = "src",
                             dstCol: String = "dst",
                             weightCol: String = "n_trans"): DataFrame = {
    require(prevLabels.columns.toSeq == Seq("page", "l_raw"),
      s"prevLabels must be a (page, l_raw) frame (labelPropagationSnapshot's " +
        s"shape); got ${prevLabels.columns.mkString(", ")}")
    val (verts, und, shufN) = lpaUniverse(edges, srcCol, dstCol, weightCol)
    val init = lpaActiveVertices(und, shufN)
      .join(prevLabels, Seq("page"), "left")
      .select(col("page"), coalesce(col("l_raw"), col("page")).as("__l"))
    lpaPublish(lpaIterate(und, shufN, extraIters, init), verts)
  }

  /** [[labelPropagationSnapshot]] then [[labelPropagationResume]] fused
    * over ONE prepared universe — the registered warm-start proof shape
    * (g12) without paying the edge checkpoint + pair-domain count +
    * layout checkpoint twice: the seam is unchanged (the resume phase
    * inits from the snapshot's (page, l_raw) frame through the same
    * left-join coalesce; both phases run the shared [[lpaIterate]]), so
    * `snapshotResume(n, k) == labelPropagation(n + k)` BIT-EXACTLY, as
    * for the two-call form. Use the two-call form when the snapshot
    * actually persists between runs.
    */
  def labelPropagationSnapshotResume(edges: DataFrame, iters: Int,
                                     extraIters: Int, srcCol: String = "src",
                                     dstCol: String = "dst",
                                     weightCol: String = "n_trans"): DataFrame = {
    val (verts, und, shufN) = lpaUniverse(edges, srcCol, dstCol, weightCol)
    val active = lpaActiveVertices(und, shufN)
    val snap = lpaIterate(und, shufN, iters,
      active.select(col("page"), col("page").as("__l")))
      .select(col("page"), col("__l").as("l_raw"))
    val init = active.join(snap, Seq("page"), "left")
      .select(col("page"), coalesce(col("l_raw"), col("page")).as("__l"))
    lpaPublish(lpaIterate(und, shufN, extraIters, init), verts)
  }

  /** Shared LPA universe: (all vertices, symmetrized weighted pair
    * table pre-partitioned on the neighbor key + checkpointed, shuffle
    * parallelism) — one copy so one-shot / snapshot / resume cannot
    * drift (bit-exact resume depends on the identical expression trees).
    */
  private def lpaUniverse(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String): (DataFrame, DataFrame, Int) = {
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(edges.schema(weightCol).dataType),
      s"weightCol '$weightCol' must be an integral type (counts); got " +
        s"${edges.schema(weightCol).dataType.simpleString} — pre-scale " +
        "fractional weights to integers")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("__c")).localCheckpoint()
    val verts = e.select(col("src").as("page"))
      .union(e.select(col("dst").as("page"))).distinct()
    val nonSelf = e.filter(col("src") =!= col("dst"))
    // explicit partition counts keep the per-round co-partitioning AQE
    // cannot be allowed to coalesce away — but PINNING them to the
    // session parallelism punishes small pair domains with empty-task
    // overhead (the thing AQE exists to fix). Size from the TRUE pair
    // domain — the symmetrized, deduped table und itself (directed edge
    // count is off by the symmetrize/dedup factor, up to 2x either way):
    // materialize the pair aggregate once, count it (a cheap scan of the
    // checkpointed blocks), then lay it out at ~250k pairs per partition
    // capped at the session parallelism — tiny graphs run 1-2 tasks per
    // round, big ones the full width.
    val undAgg = nonSelf
      .select(col("src").as("a"), col("dst").as("b"), col("__c"))
      .unionAll(nonSelf.select(col("dst").as("a"), col("src").as("b"), col("__c")))
      .groupBy("a", "b").agg(sum(col("__c")).as("__w"))
      .localCheckpoint()
    val shufN = math.min(
      edges.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      undAgg.count() / 250000L + 1L).toInt
    // re-lay the checkpointed pairs on the hash grid every round reuses;
    // the extra exchange reads cached blocks, not the edge table
    // (the pre-layout checkpoint blocks are released by the context
    // cleaner once und no longer references them)
    val und = undAgg.repartition(shufN, col("b")).localCheckpoint()
    (verts, und, shufN)
  }

  /** The active universe (vertices with a non-self neighbor),
    * hash-partitioned on the vertex so the first round's join is
    * exchange-free like every later round's. */
  private def lpaActiveVertices(und: DataFrame, shufN: Int): DataFrame =
    und.select(col("a").as("page"))
      .repartition(shufN, col("page")).distinct()

  /** `iters` synchronous LPA rounds from `init` (page, __l). */
  private def lpaIterate(und: DataFrame, shufN: Int, iters: Int,
                         init: DataFrame): DataFrame = {
    var labels = init
    for (_ <- 0 until iters) {
      if (iters > 4) labels = labels.localCheckpoint()
      labels = und
        .join(labels.select(col("page").as("b"), col("__l")), "b")
        .repartition(shufN, col("a"))
        .groupBy(col("a"), col("__l")).agg(sum(col("__w")).as("__s"))
        .groupBy(col("a"))
        .agg(min(struct((-col("__s")).as("__n"), col("__l"))).as("__m"))
        .select(col("a").as("page"), col("__m").getField("__l").as("__l"))
    }
    labels
  }

  /** Publish: active labels + isolated vertices as their own community. */
  private def lpaPublish(labels: DataFrame, verts: DataFrame): DataFrame =
    labels.select(col("page"), col("__l").as("community"))
      .unionAll(verts
        .join(labels.select(col("page")), Seq("page"), "left_anti")
        .select(col("page"), col("page").as("community")))

  /** Bounded-radius harmonic centrality — the OTHER ranking Common Crawl
    * publishes beside PageRank: `H(v) = Σ_{u: 0 < d(u,v) ≤ maxDist} 1/d(u,v)`
    * over directed shortest-path distances. The radius bound is the
    * published practice at web scale (HyperBall-style rankings run a
    * fixed number of relaxations; distant vertices contribute ≤ 1/r
    * each), and it is what makes the operator a FIXED number of
    * dataflow stages rather than a diameter-dependent loop.
    *
    * Shape: relational BFS over the DISTINCT edge universe — the
    * frontier at depth i joins edges once, anti-joins the seen set, and
    * each frontier is `localCheckpoint`ed (the pageRank discipline:
    * without it iteration i re-derives every earlier frontier, and the
    * caller's whole edge derivation re-runs per consumer). All frames
    * past the one edge scan are bounded by the page-pair domain, not the
    * event count. Empty frontier short-circuits (the checkpoint has
    * already materialized it, so the emptiness probe is free).
    *
    * Numeric discipline: 1/d sums are NOT accumulated in floating
    * point — with `L = lcm(1..maxDist)` the operator sums the exact
    * longs `L/d` and performs ONE correctly-rounded double division by
    * `L` at the end, so the result is bit-identical cross-engine and
    * independent of partial-aggregation order (the decimal-sum trick,
    * except here the rational is exactly representable). Output:
    * (page, harmonic), zero-filled over the full vertex universe
    * (self-loop-only pages rank 0, like the census zero-fill).
    */
  def harmonicCentrality(edges: DataFrame, maxDist: Int = 6,
                         srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 12,
      s"maxDist must be in [1, 12], got $maxDist")
    val L = (1 to maxDist).foldLeft(1L) { (a, b) =>
      a / BigInt(a).gcd(BigInt(b)).toLong * b
    }
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val verts = e0.select(col("src").as("page"))
      .union(e0.select(col("dst").as("page"))).distinct()
    val e = e0.filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var dist = e.withColumn("d", lit(1))
    var frontier = dist
    var depth = 2
    while (depth <= maxDist && !frontier.isEmpty) {
      val grown = frontier.select(col("src"), col("dst").as("__mid"))
        .join(e.select(col("src").as("__mid"), col("dst")), "__mid")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      frontier = grown
        .join(dist.select("src", "dst"), Seq("src", "dst"), "left_anti")
        .withColumn("d", lit(depth)).localCheckpoint()
      dist = dist.union(frontier)
      depth += 1
    }
    val h = dist.groupBy(col("dst").as("page"))
      .agg((sum(expr(s"$L div d")).cast("double") / lit(L.toDouble))
        .as("harmonic"))
    verts.join(h, Seq("page"), "left")
      .na.fill(0.0, Seq("harmonic"))
  }

  /** HyperBall harmonic centrality (Boldi & Vigna, "In-Core Computation
    * of Geometric Centralities with HyperBall", 2013) — the algorithm
    * behind the published web-scale harmonic rankings, and THE 100 TB
    * path for this metric: [[harmonicCentrality]]'s exact BFS
    * materializes the reachable-pair domain (quadratic in vertices —
    * right for bounded page universes, impossible for URL graphs), while
    * HyperBall keeps ONE fixed-size HLL sketch per vertex and estimates
    * ball sizes, so each relaxation is one edges⋈sketches join + one
    * sketch-union aggregate regardless of how many pairs exist:
    * `B(v,0) = {v}`; `B(v,t) = B(v,t-1) ∪ ⋃_{u→v} B(u,t-1)`;
    * `H(v) ≈ Σ_t (|B(v,t)| − |B(v,t−1)|)/t`.
    *
    * Built on Spark's native datasketches expressions (`hll_sketch_agg`
    * / `hll_union_agg` / `hll_sketch_estimate` — codegen'd, mergeable,
    * order-independent). Sketches are checkpointed per relaxation (the
    * pageRank discipline). At page-domain cardinalities the sketch
    * never leaves its exact coupon-list mode (promotion is hundreds of
    * entries at the default lgK=12), so the estimate IS the true ball
    * size and the output matches [[harmonicCentrality]] exactly — which
    * is what lets the registered query share g6's independent SQL
    * oracle. The genuinely-approximate regime (ball sizes past coupon
    * promotion) is property-gated in GraphSpec on a synthetic star with
    * thousands of sources. Published values are rounded to 6 dp (the
    * pageRank trick) because the Δ/t accumulation order differs from
    * the exact form's single lcm-rational division by up to 1 ulp.
    */
  def harmonicCentralityHyperBall(edges: DataFrame, maxDist: Int = 6,
                                  lgK: Int = 12, srcCol: String = "src",
                                  dstCol: String = "dst"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 12,
      s"maxDist must be in [1, 12], got $maxDist")
    require(lgK >= 4 && lgK <= 21,
      s"lgK must be in [4, 21] (datasketches HllSketch bounds), got $lgK")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val verts = e0.select(col("src").as("page"))
      .union(e0.select(col("dst").as("page"))).distinct()
    val e = e0.filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var balls = verts.groupBy("page")
      .agg(hll_sketch_agg(col("page"), lit(lgK)).as("ball"))
      .localCheckpoint()
    // (page, prev ball estimate, running harmonic sum)
    var h = balls.select(col("page"),
      hll_sketch_estimate(col("ball")).cast("double").as("prev"),
      lit(0.0).as("h"))
    var t = 1
    var saturated = false
    while (t <= maxDist && !saturated) {
      val grown = balls
        .join(e, balls("page") === e("src"))
        .select(col("dst").as("page"), col("ball"))
      balls = balls.select("page", "ball").unionByName(grown)
        .groupBy("page").agg(hll_union_agg(col("ball")).as("ball"))
        .localCheckpoint()
      val est = balls.select(col("page"),
        hll_sketch_estimate(col("ball")).cast("double").as("est"))
      // greatest(…, 0): a sketch estimate can jitter below its previous
      // value in the approximate regime; a ball never shrinks
      val joined = h.join(est, "page").localCheckpoint()
      h = joined.select(col("page"), col("est").as("prev"),
        (col("h") + greatest(col("est") - col("prev"), lit(0.0))
          / lit(t.toDouble)).as("h"))
      // HyperBall's own termination test: once no counter grew, every
      // remaining depth contributes Δ = 0 — one narrow scan of the
      // checkpointed frame per relaxation, never the edge list
      saturated = joined.filter(col("est") > col("prev")).isEmpty
      t += 1
    }
    h.select(col("page"),
      (round(col("h") * 1000000) / 1000000.0 + lit(0.0)).as("harmonic"))
  }

  /** Per-vertex triangle counts via degree-ordered edge orientation.
    * Undirected-distinct edges orient from the (degree, id)-smaller
    * endpoint to the larger; wedges pair each center's out-neighbors
    * (every center's out-degree is O(√|E|)-bounded regardless of hub
    * skew — the Suri-Vassilvitskii guarantee); a wedge closes into a
    * triangle iff the id-normalized third side exists. Under a total
    * order each triangle has exactly ONE corner with out-edges to the
    * other two, so no dedup pass is needed; the census explodes the
    * three corners of each found triangle. Two shuffles (wedge self-join
    * on the center, closing join on the normalized pair) — both on
    * bounded-fan-out keys by construction.
    */
  def triangleCensus(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    // the normalized edge set feeds the degree count, the orientation
    // join and the triangle-closing join — materialize it once
    val und = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct().localCheckpoint()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val dirE = und
      .join(deg.select(col("v").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("__db")), "b")
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
    val x = dirE.select(col("u"), col("v").as("p"))
    val y = dirE.select(col("u"), col("v").as("q"))
    val wedges = x.join(y, Seq("u")).filter(col("p") < col("q"))
    // p < q by the wedge filter, so the id-normalized third side is
    // exactly (a=p, b=q) — a plain equi-join on the pair
    val tri = wedges.join(und, col("p") === col("a") && col("q") === col("b"))
      .select(col("u"), col("p"), col("q"))
    tri.select(explode(array(col("u"), col("p"), col("q"))).as("page"))
      .groupBy("page").agg(count(lit(1)).cast("long").as("n_triangles"))
  }
}
