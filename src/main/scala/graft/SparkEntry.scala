package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Analytics
import graft.clean.Cleaning
import graft.dedup.Dedup
import graft.functions.Scalars
import graft.sim.Similarity
import graft.text.Text

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the north-star dedup / similarity /
  * text extensions) is registered here as a named query over the driver
  * testdata tables, with a DuckDB-equivalent oracle in [[oracleSql]] where
  * the semantics are ANSI-SQL-expressible. Queries whose signatures depend
  * on xxhash64 (MinHash/SimHash/SRP buckets, fingerprints) have no SQL
  * oracle and get the driver's weaker rows-only check; their *semantics*
  * are covered by ScalaTest specs on constructed inputs instead.
  *
  * Naming convention: `aN_*` = aggregations (SURVEY §2.4), `wN_*` = window /
  * time-series (§2.5), `oN_*` = sort/top-k (§2.6), `jN_*` = joins (§2.3),
  * `fN_*` = scalar functions (§2.8), `c1` = cleaning composite (§2.9),
  * `tN_*` = text analysis, `dN_*` = dedup, `sN/e1` = embedding similarity,
  * `mN_*` = multimodal (metadata-only plans over the synthetic media table).
  */
object SparkEntry {

  /** Stopword list shared by the doc-stats query and its oracle. */
  private val stopwords = Seq("the", "and", "of", "to", "is", "a", "in", "it")

  import org.apache.spark.sql.Column

  /** The TPC-H revenue term in exact decimal: money aggregates accumulate
    * order-free (partition-order double sums drift at the rounding digit
    * over 1e5+ rows) and round exactly, the way TPC-H's DECIMAL schema
    * mandates. DuckDB twin:
    * `sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))`.
    */
  private def volDec: Column =
    col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))

  /** Exact decimal sum, rounded in decimal (no double boundary), published
    * as double. DuckDB twin: `CAST(round(sum(<dec>), 2) AS DOUBLE)`.
    */
  private def decSum2(c: Column): Column = round(sum(c), 2).cast("double")

  /** Flagship query (TPC-H Q1 pricing summary shape) on sf=0.001;
    * driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Where a candidate-dump query materializes its pair set, keyed like
    * every other persisted artifact ([[ArtifactKey.pathKey]]: basename +
    * path hash, so corpora at different paths sharing a directory name
    * cannot overwrite each other's dump): the oracle SQL replays the
    * verify stage in DuckDB over this exact dump, so the path must be
    * (a) absolute — the driver's DuckDB cwd is not the repo — and (b)
    * derivable statically for the correctness sf (the driver contract
    * runs Verify at sf0.01, TESTDATA.md); a bench run at another sf
    * writes its own directory. No content stamp: each dump is REWRITTEN
    * by its own query every run, so it can't go stale within a run.
    * Every dump-reading oracle except d12's reads the dump ITS OWN query
    * wrote this run (self-contained); d12's replays clustering over
    * d13's dump — if d13's WRITE fails mid-run (disk full, interrupt),
    * d12 compares against the previous run's candidates. That failure is
    * not silent — the same round's d13 entry records the write error —
    * so a d12 mismatch beside a d13 error reads as "stale dump", not a
    * clustering bug.
    */
  private def candidatesPath(q: String, dir: String): String =
    new java.io.File(
      s"target/${q}_candidates/" + ArtifactKey.pathKey(dir)).getAbsolutePath

  /** Every query with a candidate dump the oracle replays — the single
    * source [[oracleSqlFor]] derives its path substitutions from.
    */
  private val candidateDumpQueries =
    Seq("d13", "e2", "d14", "d15", "d16", "e3", "s2", "s4", "s7", "s8", "s10", "s11", "s15", "s16", "t7", "d19")

  /** Verify-stage feed for a candidate-dump query: under
    * [[CandidateDumps.enabled]] (the driver's Verify run) the candidate
    * frame is written to `q`'s dump and the READ-BACK frame is returned,
    * so the engine and the replaying oracle provably score the identical
    * pair set; otherwise (Bench, specs, library use) the in-memory frame
    * is returned untouched and the query runs its pure search/dedup plan
    * — no parquet round-trip in the measured path. Result parity between
    * the two modes is gated in PlanQualitySpec.
    */
  private def dumpedCandidates(s: SparkSession, q: String, d: String,
                               cands: DataFrame): DataFrame =
    if (CandidateDumps.enabled) {
      val path = candidatesPath(q, d)
      cands.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    } else cands

  private def e2CandidatesPath(dir: String): String = candidatesPath("e2", dir)

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
  private def dumpVerifySql(q: String): String =
    s"""WITH c AS (SELECT id1, id2
      |  FROM '${candidatesPath(q, "/root/testdata/sf0.01")}/*.parquet'),
      |$duckShingleCte,
      |j AS (SELECT c.id1, c.id2,
      |  $duckJaccardExpr AS jaccard
      |  FROM c JOIN sh a ON a.doc_id = c.id1 JOIN sh b ON b.doc_id = c.id2)
      |SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.8""".stripMargin

  /** ANN rescore replay over query `q`'s own candidate-pair dump: exact
    * cosine in double over exactly the dumped (query, neighbor) pairs,
    * ranked per query on the UNROUNDED value with the id tie-break —
    * precisely [[graft.sim.Similarity.exactRerank]], which is what the
    * registered query publishes (the s1 oracle proved the full-precision
    * cosine ordering agrees between the engines on these vectors).
    */
  private def annRerankSql(q: String, k: Int): String =
    s"""WITH c AS (SELECT query_id, neighbor_id
      |  FROM '${candidatesPath(q, "/root/testdata/sf0.01")}/*.parquet'),
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

  /** Recursive-closure CTE stack over query `q`'s verified dump: verify
    * filter → symmetrized edges → reachability; `reach` yields each
    * node's min reachable id (= dupClusters' fixpoint label) to whatever
    * final SELECT the caller appends.
    */
  private def dumpClosureCtes(q: String): String =
    s"""WITH RECURSIVE c AS (SELECT id1, id2
      |  FROM '${candidatesPath(q, "/root/testdata/sf0.01")}/*.parquet'),
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

  /** Formula average-hash of the grid fixtures as a DuckDB CTE: per
    * media_id, the 64 cell lumas (seed = media_id % 101, the
    * [[graft.multimodal.MediaCodec.cellLuma]] small-multiplier formula),
    * the strict cross-multiplied mean test (v·64 > Σcells, exactly the
    * engine's blockSum·totalPx > totalSum·blockPx reduced for equal
    * 8×8 blocks), packed into unsigned 32-bit halves. Built
    * programmatically — 64 CASE terms per half.
    */
  private def ahashCte: String = ahashCteNamed(101, "g", "h", "")

  /** The same formula-hash CTE parameterized for multi-fixture oracles
    * (m19 probes the masked batch fixture against the plain corpus):
    * `seedMod` picks the grid fixture, `maskMod > 0` applies the
    * `(id + cell) % maskMod` inversion mask, `where` filters the doc
    * split, `g`/`h` name the CTEs so two instances coexist per query.
    */
  private def ahashCteNamed(seedMod: Int, g: String, h: String,
                            where: String, maskMod: Int = 0): String = {
    def luma(cx: Int, cy: Int): String = {
      val base = s"((((media_id % $seedMod) * 31 + ${cx * 7 + cy * 13}) * 37) % 256)"
      if (maskMod <= 0) base
      else s"(CASE WHEN (media_id + ${cy * 8 + cx}) % $maskMod = 0 THEN 255 - $base ELSE $base END)"
    }
    val cells = for (cy <- 0 until 8; cx <- 0 until 8) yield luma(cx, cy)
    val sum = cells.mkString("(", " + ", ")")
    def half(lo: Int, hi: Int): String =
      (lo until hi).map { i =>
        s"(CASE WHEN ${cells(i)} * 64 > __s THEN ${1L << (i - lo)} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""$g AS (SELECT doc_id AS media_id, $sum AS __s FROM documents$where),
       |$h AS (SELECT media_id,
       |  CAST(${half(32, 64)} AS BIGINT) AS ahash_hi,
       |  CAST(${half(0, 32)} AS BIGINT) AS ahash_lo
       |  FROM $g)""".stripMargin
  }

  /** Formula envelope-hash of the AM-WAV fixtures as a DuckDB CTE — the
    * audio twin of [[ahashCteNamed]]: per media_id the 64 window
    * amplitudes ([[graft.multimodal.MediaCodec.windowAmp]], seed =
    * media_id % 101), bit w set iff amp_w·64 strictly exceeds the amp
    * total (the engine's winSum·n > totalSum·winFrames reduced for the
    * fixture's equal 256-sample windows whose mean |sample| is exactly
    * the amplitude).
    */
  private def ehashCte(g: String, h: String): String = {
    def amp(w: Int): String =
      s"((((media_id % 101) * 29 + ${w * 11}) * 53) % 4096 + 256)"
    val wins = (0 until 64).map(amp)
    val sum = wins.mkString("(", " + ", ")")
    def half(lo: Int, hi: Int): String =
      (lo until hi).map { w =>
        s"(CASE WHEN ${wins(w)} * 64 > __s THEN ${1L << (w - lo)} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""$g AS (SELECT doc_id AS media_id, $sum AS __s FROM documents),
       |$h AS (SELECT media_id,
       |  CAST(${half(32, 64)} AS BIGINT) AS ehash_hi,
       |  CAST(${half(0, 32)} AS BIGINT) AS ehash_lo
       |  FROM $g)""".stripMargin
  }

  /** events with the reference's derived `date` string column (F6). */
  private def eventsWithDate(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("date", date_format(to_date(col("ts")), "yyyy-MM-dd"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------------------- flagship
    // TPC-H Q1 shape: scan → filter (pushed to parquet) → 2-key hash agg.
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        // money terms in exact decimal (TPC-H's own schema type): sums
        // accumulate order-free, round in decimal, publish as double;
        // means use the scaled-round stable form (see Analytics.stableMean4)
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          decSum2(col("l_extendedprice").cast("decimal(18,6)")).as("sum_base_price"),
          decSum2(volDec).as("sum_disc_price"),
          decSum2(volDec * (lit(1).cast("decimal(18,6)") + col("l_tax").cast("decimal(18,6)"))).as("sum_charge"),
          (round(sum(col("l_quantity").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_qty"),
          (round(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0)).as("avg_price"),
          (round(sum(col("l_discount").cast("decimal(18,6)")).cast("double") / count(lit(1)) * 1000000) / 1000000.0 + lit(0.0)).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // ------------------------------------------------------- aggregations
    "a1_basic_stats" -> ((s, d) => Analytics.basicStats(Tables.events(s, d), "ts", "value")),
    "a2_group_agg" -> ((s, d) => Analytics.groupMultiAgg(Tables.events(s, d), "event_type", "value")),
    "a3_extremes" -> ((s, d) => Analytics.extremeGroupsLabelled(Tables.events(s, d), "event_type", "value")),
    "a4_daily_agg" -> ((s, d) => Analytics.dailyAgg(Tables.events(s, d), "ts", "event_type", "value")),
    "a5_value_counts" -> ((s, d) => Analytics.valueCounts(Tables.events(s, d), "event_type")),
    "a6_mode_per_day" -> ((s, d) => Analytics.modePerGroup(eventsWithDate(s, d), "date", "event_type")),
    "a7_summary_rounded" -> ((s, d) =>
      Analytics.summaryRounded(Tables.lineitem(s, d), "l_returnflag", Seq("l_quantity", "l_extendedprice"))),
    "a8_percentile_bounds" -> ((s, d) => Analytics.percentileBounds(Tables.events(s, d), Seq("value"))),
    "a9_medians" -> ((s, d) =>
      Analytics.medians(Tables.lineitem(s, d), Seq("l_quantity", "l_extendedprice", "l_discount"))),
    "a10_outlier_census" -> ((s, d) => Analytics.outlierCensus(Tables.events(s, d), "value")),
    "a11_distinct_values" -> ((s, d) => Analytics.distinctValues(Tables.events(s, d), "event_type")),
    "a12_global_means" -> ((s, d) => Analytics.globalMeans(Tables.events(s, d), "value")),
    "a13_regression" -> ((s, d) =>
      Analytics.regression(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")),

    "a14_distinct_counts" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_rows"))),
    // HLL sketch — implementation-specific estimate, rows-only check;
    // the 100 TB twin of a14's exact distinct.
    "a15_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))),
    "a16_rollup" -> ((s, d) =>
      Analytics.rollupSummary(Tables.lineitem(s, d), "l_returnflag", "l_linestatus", "l_quantity")),
    // Two-stage salted aggregation must equal the direct group-by — the
    // oracle IS the direct SQL, so the gate proves the decomposition.
    "a17_salted_agg" -> ((s, d) => Analytics.saltedAgg(Tables.events(s, d), "event_type", "value")),
    "a18_cube" -> ((s, d) =>
      Analytics.cubeSummary(Tables.lineitem(s, d), "l_returnflag", "l_linestatus", "l_quantity")),

    // Single-pass column profiler over the full events table: per column,
    // nulls / exact distincts / canonical min+max — ONE scan, stats pivot
    // out of a one-row aggregate.
    "a20_profile" -> ((s, d) =>
      graft.analyze.Profiler.profile(Tables.events(s, d))),

    // Incrementally maintained aggregate: the corpus/batch split (event_id
    // mod 29) is aggregated into two partial-state tables, merged, and
    // finalized — the oracle aggregates the full table DIRECTLY, so a pass
    // proves finalize(merge(state(a), state(b))) == directAgg(a union b).
    "a21_incremental_agg" -> ((s, d) => {
      import graft.analyze.IncrementalAgg
      val ev = Tables.events(s, d)
      val corpus = IncrementalAgg.state(
        ev.filter(pmod(col("event_id"), lit(29)) =!= 0), "event_type", "ts", "value")
      val batch = IncrementalAgg.state(
        ev.filter(pmod(col("event_id"), lit(29)) === 0), "event_type", "ts", "value")
      IncrementalAgg.finalize(
        IncrementalAgg.merge(corpus, batch, "event_type"), "event_type")
    }),

    // ------------------------------------------------ window / time-series
    "w1_trend_analysis" -> ((s, d) => Analytics.trendAnalysis(Tables.events(s, d), "ts", "event_type", "value")),
    "w3_pivot_daily" -> ((s, d) =>
      Analytics.pivotDaily(Tables.events(s, d), "ts", "event_type", "value",
        Seq("click", "error", "purchase", "signup", "view"))),
    "w4_multiday_groups" -> ((s, d) => Analytics.multiDayGroups(Tables.events(s, d), "ts", "event_type")),
    "w5_rolling_avg" -> ((s, d) => Analytics.rollingAvg(Tables.events(s, d), "ts", "event_type", "value")),
    "w7_rank_ntile" -> ((s, d) => Analytics.rankAndNtile(Tables.events(s, d), "ts", "event_type", "value")),
    "w8_sessionize" -> ((s, d) =>
      Analytics.sessionSummary(Tables.events(s, d), "user_id", "ts", "value", gapMinutes = 1440)),

    // incremental sessionization (w20): the engine folds a time-split
    // batch into the standing session state through the (ts, tie)
    // frontier; the oracle is w8's ONE-SHOT sessionization SQL over the
    // full log — the hash match IS the fold == one-shot contract
    // the standing state is a PERSISTED artifact (StateStore — built
    // once per events snapshot), so the measured query is the
    // deployment shape: one O(batch) fold against a state-sized parquet
    // read, never a historical-slice rebuild. Result (and hash) is
    // identical — parquet round-trips every state column exactly
    // (StateStoreSpec gates fold-from-artifact == fold-from-recomputed)
    "w20_sessions_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      def b1 = ev.filter(col("ts") < cut)
      val st0 = graft.StateStore.ensure(s, d, "events", "w20_session_state",
        Analytics.sessionState(b1, "user_id", "ts", "value", gapMinutes = 1440))
      val f0 = graft.StateStore.ensure(s, d, "events", "w20_session_frontier",
        graft.analyze.Lifecycle.scd2Frontier(b1, "user_id", "ts", "event_id"))
      val (st1, _) = Analytics.sessionsApplyBatch(st0, f0,
        ev.filter(col("ts") >= cut), "user_id", "ts", "value", "event_id",
        gapMinutes = 1440)
      Analytics.sessionPublish(st1, "user_id")
    }),
    // the StateStore EPOCH WALK exercised end-to-end in the registered
    // surface: three (ts)-ordered slices of the log fold through
    // advance()'d epoch snapshots — each fold consumes the READ-BACK
    // artifact of the previous one (never an in-memory frame), so the
    // parquet round-trip sits inside the chain twice, and the publish
    // equals the one-shot sessionization over the full log (the w8/w20
    // oracle — the hash match IS the fold == one-shot contract through
    // two persisted seams). Fixed epoch keys: a re-run overwrites its
    // own epochs, the at-least-once contract
    "w21_sessions_epochs" -> ((s, d) => {
      import graft.analyze.Lifecycle
      val ev = Tables.events(s, d)
      val c1 = lit("2024-01-11 00:00:00").cast("timestamp")
      val c2 = lit("2024-01-21 00:00:00").cast("timestamp")
      def slice1 = ev.filter(col("ts") < c1)
      val st0 = graft.StateStore.ensure(s, d, "events", "w21_state",
        Analytics.sessionState(slice1, "user_id", "ts", "value", gapMinutes = 1440))
      val f0 = graft.StateStore.ensure(s, d, "events", "w21_frontier",
        Lifecycle.scd2Frontier(slice1, "user_id", "ts", "event_id"))
      val (st1m, f1m) = Analytics.sessionsApplyBatch(st0, f0,
        ev.filter(col("ts") >= c1 && col("ts") < c2),
        "user_id", "ts", "value", "event_id", gapMinutes = 1440)
      val st1 = graft.StateStore.advance(s, d, "events", "w21_state", "0001", st1m)
      val f1 = graft.StateStore.advance(s, d, "events", "w21_frontier", "0001", f1m)
      val (st2m, _) = Analytics.sessionsApplyBatch(st1, f1,
        ev.filter(col("ts") >= c2),
        "user_id", "ts", "value", "event_id", gapMinutes = 1440)
      Analytics.sessionPublish(
        graft.StateStore.advance(s, d, "events", "w21_state", "0002", st2m),
        "user_id")
    }),

    // RANGE-frame rolling window: per user, trailing 10 minutes of EVENT
    // TIME (not rows) — the frame type w5's ROWS rolling can't express.
    "w9_range_rolling" -> ((s, d) =>
      Analytics.rangeRolling(Tables.events(s, d), "user_id", "ts", "value",
        rangeSeconds = 600)),

    // Unkeyed interval join (count flavor): corpus-wide events falling in
    // each w8 session's [start, end] — decomposed into broadcast interior
    // day sums + one cumulative window for boundary ranks, never a
    // nested-loop or a per-day bin explosion (see sessionOverlapCount).
    "w10_interval_join" -> ((s, d) =>
      Analytics.sessionOverlapCount(Tables.events(s, d), "user_id", "ts",
        gapMinutes = 1440)),

    // As-of join: each error event enriched with the user's latest prior
    // purchase value (point-in-time correctness — no lookahead).
    "w6_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      Analytics.asofJoin(errors, purchases, Seq("user_id"), "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
                round(col("asof_value"), 4).as("last_purchase_value"))
    }),

    // Rolling distinct actives (DAU + 7-day AU): sliding DISTINCT can't
    // ride a window frame; contribution-explode of the deduped (user,
    // day) frame + per-day distinct count IS the rolling distinct.
    "w12_active_users" -> ((s, d) =>
      Analytics.rollingActiveUsers(Tables.events(s, d), "ts", "user_id",
        windowDays = 7)),

    // Rolling z-score anomaly flags: trailing-20-rows baseline per type,
    // decimal-exact frame sums (Σx, Σx²) so sliding accumulation order
    // can't drift between engines; warm-up and zero-variance rows null.
    "w13_rolling_zscore" -> ((s, d) =>
      Analytics.rollingZScore(Tables.events(s, d), "event_type", "ts", "value",
        lookback = 20, minObs = 5, zThreshold = 2.0)),

    // As-of join with a tolerance bound (pandas merge_asof(tolerance=...)):
    // same one-shuffle union-window machinery as w6 — the right ts rides
    // along as a value column and matches older than 1 h are nulled AFTER
    // the join, so tolerance costs zero extra plan.
    "w11_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("ts").as("rts"))
      Analytics.asofJoin(errors, purchases, Seq("user_id"), "ts", Seq("value", "rts"))
        .select(col("event_id"), col("user_id"),
          when(col("ts").cast("long") - col("asof_rts").cast("long") <= 3600,
            round(col("asof_value"), 4)).as("purchase_within_1h"))
    }),

    // Windowed conversion funnel (signup -> view -> click -> purchase,
    // each conversion within 6 h): exact latest-achievable fold, ONE
    // shuffle on user — the oracle replays the n-stage chain join the
    // engine must never run at scale.
    "w14_funnel" -> ((s, d) =>
      graft.analyze.Lifecycle.funnel(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("signup", "view", "click", "purchase"),
        maxLagSeconds = 21600)),

    // Cohort retention: users cohorted by FIRST-PURCHASE day (purchases
    // are sparse per user-day, so cohorts spread over several days
    // instead of collapsing into the dense first-seen day), retained =
    // purchased again exactly 1/7/14 days later; raw events touched once
    // for the (user, day) dedup.
    "w15_retention" -> ((s, d) =>
      graft.analyze.Lifecycle.cohortRetention(
        Tables.events(s, d).filter(col("event_type") === "purchase"), "ts",
        "user_id", offsets = Seq(1, 7, 14))),

    // Gap-filled per-user daily purchase series (LOCF): purchases are
    // sparse per user-day, so the spine genuinely fills; is_filled
    // distinguishes carried values.
    "w16_gap_fill" -> ((s, d) =>
      graft.analyze.Lifecycle.gapFillDaily(
        Tables.events(s, d).filter(col("event_type") === "purchase"),
        "user_id", "ts", "value")),

    // SCD-type-2 dimension history from the event change log: each
    // user's consecutive runs of one event_type collapse to validity
    // intervals, open run's valid_to null
    "w17_scd2_intervals" -> ((s, d) =>
      graft.analyze.Lifecycle.scd2Intervals(
        Tables.events(s, d), "user_id", "ts", "event_type", "event_id")),

    // the incremental SCD2 proof: fold the change log in two time-split
    // batches (standing snapshot + batch merge) — the oracle replays the
    // ONE-SHOT pass over the full log, so the hash match IS the
    // batch∘batch == one-shot contract
    // standing open runs from the persisted StateStore artifact (the
    // w20 note: deployment shape, identical hash)
    "w18_scd2_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      graft.analyze.Lifecycle.scd2ApplyBatch(
        graft.StateStore.ensure(s, d, "events", "w18_scd2_state",
          graft.analyze.Lifecycle.scd2Intervals(
            ev.filter(col("ts") < cut), "user_id", "ts", "event_type", "event_id")),
        ev.filter(col("ts") >= cut), "user_id", "ts", "event_type", "event_id")
    }),

    // the frontier-exact incremental SCD2 proof (w18 with the late guard
    // on the FULL (ts, tie) order): the change log is DAY-truncated so
    // same-timestamp changes are everywhere, and both fold cuts land
    // MID-DAY (at the cut day's mean event_id) so same-ts changes
    // straddle them — exactly the boundary scd2ApplyBatch's ts-only
    // guard would drop. The oracle replays the ONE-SHOT pass over the
    // full derived log; the cuts are engine-side only, so the hash match
    // proves the three-way frontier fold is cut-independent.
    "w19_scd2_frontier" -> ((s, d) => {
      import graft.analyze.Lifecycle
      val log = Tables.events(s, d).select(col("user_id"),
        to_date(col("ts")).as("day"), col("event_type"), col("event_id"))
      def upTo(day: String, id: Long) =
        col("day") < lit(day).cast("date") ||
          (col("day") === lit(day).cast("date") && col("event_id") <= lit(id))
      val (c1, c2) = ("2024-01-10", "2024-01-20")
      // both cut-day means in ONE aggregate job (they were two separate
      // head() actions over the same scan); values are the identical
      // per-day avg, coalesced to 0 for an absent day
      val mids = log.filter(col("day").isin(
          lit(c1).cast("date"), lit(c2).cast("date")))
        .groupBy("day").agg(avg("event_id").as("m")).collect()
        .map(r => r.getDate(0).toString -> r.getDouble(1).toLong).toMap
      val (e1, e2) = (mids.getOrElse(c1, 0L), mids.getOrElse(c2, 0L))
      val b1 = log.filter(upTo(c1, e1))
      val b2 = log.filter(!upTo(c1, e1) && upTo(c2, e2))
      val b3 = log.filter(!upTo(c2, e2))
      val st0 = Lifecycle.scd2Intervals(b1, "user_id", "day", "event_type", "event_id")
      val f0 = Lifecycle.scd2Frontier(b1, "user_id", "day", "event_id")
      val (st1, f1) = Lifecycle.scd2ApplyBatchFrontier(
        st0, f0, b2, "user_id", "day", "event_type", "event_id")
      val (st2, _) = Lifecycle.scd2ApplyBatchFrontier(
        st1, f1, b3, "user_id", "day", "event_type", "event_id")
      st2
    }),

    // ----------------------------------------------------------- top-k
    "o1_topk_per_group" -> ((s, d) =>
      Analytics.topKPerGroup(
          Tables.lineitem(s, d).select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
          "l_returnflag", "l_extendedprice", 3, Seq("l_orderkey", "l_linenumber"))
        .withColumn("rnk", col("rnk").cast("long"))),

    // Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    // per-partition partial top-k, no full sort (the 100 TB-correct shape).
    "o2_global_topk" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10)),

    // Explicit set operations (§2.7): customers active in BOTH years
    // (INTERSECT) and in 1996 but not 1997 (EXCEPT); Catalyst plans these
    // as semi/anti joins over the distinct key sets.
    "o3_set_ops" -> ((s, d) => {
      def custIn(year: Int) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
                col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      val both = custIn(1996).intersect(custIn(1997))
        .agg(count(lit(1)).as("n")).select(lit("both_years").as("kind"), col("n"))
      val only96 = custIn(1996).except(custIn(1997))
        .agg(count(lit(1)).as("n")).select(lit("only_1996").as("kind"), col("n"))
      both.unionByName(only96).orderBy("kind")
    }),

    // Per-language best-of: langId + qualityScore feed the bounded-heap
    // topKPerGroup (o.a.s.sql.graft.TopKRows) — the curation primitive
    // "keep the k best docs per language bucket" as ONE scan + one
    // groups×k shuffle, no per-partition sort of the corpus. Oracled
    // end-to-end (both signals are the t2/t3-proven SQL twins, ranks via
    // row_number), so the heap's ordering semantics are hash-checked on
    // real string data, not just spec-tested.
    "o4_top_docs_per_lang" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(graft.text.Text.langId(col("text")).as("lang"), col("doc_id"),
                graft.text.Text.qualityScore(col("text")).as("quality"))
      Analytics.topKPerGroup(scored, "lang", "quality", 3, Seq("doc_id"))
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // Grouped percentiles: exact per-group p50/p95 (a8's global bounds,
    // per key) — the grouped-quantile shape every monitoring rollup needs.
    "a19_grouped_percentiles" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.5)), 4).as("p50"),
             round(percentile(col("value"), lit(0.95)), 4).as("p95"),
             count(lit(1)).as("n"))),

    // ----------------------------------------------------------- joins
    // TPC-H Q3 shape: selective filters on both join sides (pushed to the
    // scans), 3-way join, group, global top-k by revenue.
    "q3_shipping_priority" -> ((s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        // fact-fact join pinned to sort-merge: at any interesting scale the
        // filtered lineitem side exceeds every broadcast threshold, so SMJ
        // is the plan a cluster runs — and a fact-side hash relation is
        // never a build side we want (AQE at sf0.1 would broadcast the
        // ~100k-row filtered fact; measured slower here too: the
        // single-threaded broadcast build costs more than the shuffle)
        .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(decSum2(volDec).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)),

    // TPC-H Q6 shape: every predicate pushes into the parquet scan; the
    // whole query is one scan + one agg — the pure-pushdown benchmark.
    "q6_forecast_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
                col("l_discount").between(0.03, 0.05) &&
                col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       col("l_discount").cast("decimal(18,6)")), 2)
               .cast("double").as("revenue"),
             count(lit(1)).as("n"))),

    // TPC-H Q5 shape: 5-way join through the full dimension chain with a
    // region filter; dims broadcast, facts shuffle once.
    "q5_local_volume" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(decSum2(volDec).as("revenue"),
             count(lit(1)).as("n"))),

    // TPC-H Q10 shape: returned-item revenue per customer, 4-way join +
    // global top-k.
    "q10_returned_items" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        // exact decimal sum: with only ~30 items per group the float sum
        // can land ON a half-cent boundary and round differently per
        // engine's summation order; decimal arithmetic is order-free
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
               .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),

    // TPC-H Q18 shape: HAVING on a grouped sum, then global top-k.
    "q18_large_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 150)
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)),

    // TPC-H Q15 shape: aggregate, then compare to the aggregate's own max
    // — the top-supplier view. Decimal revenue so the max-equality is
    // exact on both engines. The max comes from an empty-partition window
    // OVER THE AGGREGATE (supplier-cardinality rows, dim-scale, so the
    // single-partition window is safe) instead of re-aggregating rev —
    // Catalyst doesn't reuse the rev subplan across a second reference
    // (no ReusedExchange in the audit), so the agg+crossJoin form scanned
    // lineitem twice.
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
               (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
             .cast("double").as("total_revenue"))
      val top = rev
        .withColumn("__max_rev",
          max(col("total_revenue")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(col("total_revenue") === col("__max_rev"))
      Tables.supplier(s, d)
        .join(top, col("s_suppkey") === col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    }),

    // TPC-H Q20 shape: two-level IN chain -> nested left-semi joins
    // (suppliers that ship any 'red %' part).
    "q20_red_part_suppliers" -> ((s, d) => {
      val redParts = Tables.part(s, d)
        .filter(col("p_name").startsWith("red ")).select("p_partkey")
      val shippers = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
      Tables.supplier(s, d)
        .join(shippers.select("l_suppkey"), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    }),

    // TPC-H Q22 shape: uncorrelated scalar-subquery threshold feeding a
    // grouped aggregate (broadcast 1-row cross join, no collect).
    "q22_wealthy_segments" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("__avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
             round(sum(col("c_acctbal").cast("decimal(18,6)")), 2).cast("double").as("totacctbal"))
    }),

    // TPC-H Q13 shape: LEFT OUTER aggregate join — customers BY how many
    // orders they have, including zero (the only outer-join aggregate
    // distribution in the suite).
    "q13_order_distribution" -> ((s, d) => {
      val perCust = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
      perCust.groupBy("c_count").agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q16 shape: anti-join exclusion + per-group count distinct.
    "q16_part_suppliers" -> ((s, d) => {
      val excluded = Tables.supplier(s, d)
        .filter(col("s_name").contains("Supplier#00000001")).select("s_suppkey")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(Tables.part(s, d).filter(col("p_size") <= 15),
          col("l_partkey") === col("p_partkey"))
        .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q19 shape: disjunction of conjunctive predicates — Catalyst
    // extracts the common l_quantity bounds for scan pushdown.
    "q19_discounted_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
               (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
             .cast("double").as("revenue"),
             count(lit(1)).as("n"))),

    // TPC-H Q17 shape: correlated scalar subquery (per-part average
    // threshold), decorrelated into an aggregate join. Decimal sum: the
    // filtered set is small enough for half-cent boundary sensitivity.
    "q17_small_quantity" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val threshold = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("t_threshold"))
      li.join(Tables.part(s, d).filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .join(threshold, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("t_threshold"))
        // stable rounding: exact decimal sum -> identical double on both
        // engines -> scaled round at a dyadic boundary (decimal/decimal
        // division would round the quotient at engine-specific scales)
        .agg((round(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0 * 100) / 100.0 + lit(0.0)).as("avg_yearly"),
             count(lit(1)).as("n"))
    }),

    // TPC-H Q4 shape: EXISTS with a correlated inequality -> left-semi
    // join on the key with the extra predicate in the join condition.
    // TPC-H Q14 shape: conditional revenue share — ratio of two sums over
    // one join, dim side broadcastable.
    "q14_promo_share" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(when(col("p_type").startsWith("PROMO"),
                   col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_share"),
          count(lit(1)).as("n"))),

    "q4_priority_check" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
               col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q12 shape: conditional two-way counts per group (sum of CASE).
    "q12_shipmode_priority" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("low_line_count"))),

    // TPC-H Q7 shape: volume shipping between two nations — the nation dim
    // joins TWICE (supplier's and customer's nation) with a disjunctive
    // nation-pair predicate, the classic join-reorder probe. Both nation
    // copies broadcast; the two fact-fact joins shuffle on their keys.
    "q7_nation_volume" -> ((s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nkey"))
        .join(n2, col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
                 year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
               .cast("double").as("revenue"))
    }),

    // TPC-H Q8 shape: market share — a ratio of two conditional sums over
    // an 8-way join with year extraction; nation joins twice (customer's
    // region gate, supplier's share attribution).
    "q8_market_share" -> ((s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nkey"), col("n_regionkey").as("c_rkey")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val vol = col("l_extendedprice").cast("decimal(18,6)") *
                (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("c_nationkey") === col("c_nkey"))
        .join(broadcast(Tables.region(s, d)), col("c_rkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .join(n2, col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        // stable 6-digit publication (see Analytics.stableMean4): both
        // decimal sums cast to double, divide, scale by 1e6 BEFORE round
        // so the only round boundary is a dyadic .5 — round(double, 6)
        // directly can flip on .xx5-representational boundaries between
        // engines (the repo's own q11 note)
        .agg((round(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0).cast("decimal(18,6)")))
            .cast("double") /
          sum(vol).cast("double") * 1000000) / 1000000.0 + lit(0.0)).as("mkt_share"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q9 shape: product-type profit by (nation, year) — part-name
    // filter, supplier-nation attribution, year extraction; the profit
    // proxy omits ps_supplycost (no partsupp table in the testdata).
    "q9_product_profit" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").contains("bolt")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
                 year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
                       (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))), 2)
               .cast("double").as("profit"),
             count(lit(1)).as("n"))),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS chain over the same fact —
    // suppliers who were the LAST to ship in a multi-supplier finished
    // order (l_shipdate stands in for receipt-vs-commit lateness; the
    // testdata has no l_commitdate/l_receiptdate). Semi-join proves
    // another supplier exists in the order; anti-join proves none shipped
    // later.
    "q21_waiting_suppliers" -> ((s, d) => {
      // Single-scan window rewrite of the EXISTS / NOT EXISTS chain (the
      // oracle stays the literal three-reference SQL, so the driver gate
      // proves the rewrite). A row "waits" iff its order is F-status, the
      // order has >= 2 suppliers, and NO other supplier shipped later —
      // i.e. l_shipdate >= max(shipdate over the order's OTHER suppliers).
      // That max is derived from per-supplier maxima: with t1 = best
      // supplier max in the order, t2 = best among the rest, a given
      // supplier's "other max" is t1 unless it alone holds t1 (then t2).
      // The literal form scans the fact three times and runs two fact-fact
      // semi/anti joins; this shape scans it ONCE — the (ok, sk) exchange
      // feeds both the per-supplier aggregate and the join probe
      // (ReuseExchange), and the t1/t2 windows run over the tiny aggregate.
      val fOrders = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      val rows = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      val perSupp = rows.groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(col("l_shipdate")).as("smax"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ok")
      val ps = perSupp
        .withColumn("nsupp", count(lit(1)).over(w))
        .withColumn("t1", max(col("smax")).over(w))
        .withColumn("cnt_t1", sum(when(col("smax") === col("t1"), 1).otherwise(0)).over(w))
        .withColumn("t2", max(when(col("smax") < col("t1"), col("smax"))).over(w))
        .select(col("ok"), col("sk"), col("nsupp"),
          when(col("cnt_t1") >= 2 || col("smax") =!= col("t1"), col("t1"))
            .otherwise(col("t2")).as("max_other"))
      rows
        .join(ps, col("l_orderkey") === col("ok") && col("l_suppkey") === col("sk"))
        .filter(col("nsupp") >= 2 && col("l_shipdate") >= col("max_other"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),

    // TPC-H Q11 shape: group HAVING against a GLOBAL scalar aggregate —
    // parts whose revenue exceeds 1.2x the MEAN part revenue (1-row
    // broadcast threshold, no collect). The threshold is relative to the
    // mean, not a fixed fraction of the total, so the row count is
    // scale-invariant (TPC-H divides its Q11 fraction by SF for the same
    // reason). The comparison runs in DOUBLE on both engines with the
    // identical operation order — the exact decimal sums convert to the
    // same doubles everywhere, and IEEE `cmp` on identical doubles cannot
    // diverge (a decimal `value*n > total*1.2` would overflow
    // decimal(38) precision and get silently rounded at scale 6).
    "q11_important_parts" -> ((s, d) => {
      val vol = col("l_extendedprice").cast("decimal(18,6)") *
                (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))
      val perPart = Tables.lineitem(s, d).groupBy("l_partkey").agg(sum(vol).as("__value"))
      val global = perPart.agg(sum(col("__value")).as("__total"),
                               count(lit(1)).as("__nparts"))
      perPart.crossJoin(broadcast(global))
        .filter(col("__value").cast("double") >
                col("__total").cast("double") * 1.2 / col("__nparts"))
        // round the EXACT decimal, then cast: rounding after the double
        // cast hits shortest-repr boundary values (x.xx5 stored as
        // x.xx4999...) that Spark rounds up and DuckDB rounds down
        .select(col("l_partkey"), round(col("__value"), 2).cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey").asc)
    }),

    // TPC-H Q2 shape: correlated MIN subquery — for each small part, the
    // supplier(s) whose line price equals that part's minimum, decorrelated
    // into an aggregate join back on the part key.
    "q2_min_cost_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey", "l_extendedprice")
      val minPrice = li.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min(col("l_extendedprice")).as("m_price"))
      li.join(Tables.part(s, d).filter(col("p_size") === 5), col("l_partkey") === col("p_partkey"))
        .join(minPrice, col("l_partkey") === col("m_partkey") &&
                        col("l_extendedprice") === col("m_price"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
                round(col("l_extendedprice"), 2).as("min_price"))
        .distinct()
        .orderBy(col("p_partkey").asc, col("s_suppkey").asc)
    }),

    // Broadcast the small dims (region 5 rows, nation 25); the fact side
    // never shuffles for the dim lookups — only for the final group-by.
    "j1_broadcast_join" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(decSum2(col("o_totalprice").cast("decimal(18,6)")).as("revenue"),
             count(lit(1)).as("n"))),
    // Large-large equi-join: shuffle on the join key, AQE picks the
    // physical strategy (sort-merge at scale, broadcast at tiny SF).
    "j2_sortmerge_join" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(decSum2(volDec).as("revenue"),
             count(lit(1)).as("n"))),
    "j3_semi_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))),
    "j4_anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))),
    // part is dim-sized relative to lineitem; AQE broadcasts it at test
    // SFs, and at 100 TB the same plan degrades gracefully to shuffle join.
    "j5_brand_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(decSum2(volDec).as("revenue"),
             round(sum(col("l_quantity")), 2).as("qty"),
             count(lit(1)).as("n"))),

    "j6_supplier_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(decSum2(volDec).as("revenue"),
             count(lit(1)).as("n"))),

    // The q18 fact⋈fact shape over the BUCKETED fact-table mirror
    // (BucketedMirror.ensure builds-or-reuses it; one-time orderkey
    // shuffle+sort at write): both scans report
    // HashPartitioning(orderkey, 16) and their in-bucket sort, so the
    // sort-merge join plans with ZERO exchanges and ZERO sorts, and the
    // (o_orderkey, o_custkey) aggregate rides the same distribution —
    // the whole query is scan → SMJ → agg → TakeOrdered with no shuffle
    // anywhere (PlanQualitySpec-gated). The probe measured this layout
    // at 2.1× on the 60 M⋈15 M join (docs/SCALE_PROBE.md); `merge` hint
    // pins the strategy AQE would pick at any interesting scale, so the
    // gated plan is the one a cluster runs. Oracle = the q18 SQL: the
    // mirror must be CONTENT-INVISIBLE — same rows, different layout.
    "j7_bucketed_large_orders" -> ((s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      ord.join(li.hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .filter(col("total_qty") > 150)
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    }),
    // Third consumer of the SAME orderkey mirrors: the q21 shape.
    // Everything fact-side keys on l_orderkey, so the bucketed layout
    // carries the WHOLE chain without a fact shuffle — the F-order semi
    // join, the (order, supplier) aggregate, the per-order stats, and the
    // probe join all ride the write-time distribution; the only hash
    // exchange left is the final tiny s_name aggregate (PlanQualitySpec
    // counts exactly one).
    //
    // The probe join is deliberately SINGLE-key: q21's two-key
    // (order, supplier) join-back would demand hashpartitioning(ok, sk)
    // and re-shuffle BOTH sides — so the per-supplier frame reduces to a
    // per-ORDER frame carrying sk_t1, the unique holder of the latest
    // ship date when one exists, and each probe row derives its
    // "max over OTHER suppliers" as: t1 unless THIS supplier uniquely
    // holds t1 (then t2). Identical semantics, one fewer shuffled column
    // set, and the bucket order satisfies the join sort on the rows side.
    // Oracle = q21's verbatim three-reference SQL.
    "j9_bucketed_waiting_suppliers" -> ((s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      val fOrders = ord.filter(col("o_orderstatus") === "F").select("o_orderkey")
      val rows = li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders.hint("merge"), col("l_orderkey") === col("o_orderkey"), "left_semi")
      val perSupp = rows.groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(col("l_shipdate")).as("smax"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ok")
      val frame = perSupp
        .withColumn("nsupp", count(lit(1)).over(w))
        .withColumn("t1", max(col("smax")).over(w))
        .withColumn("cnt_t1", sum(when(col("smax") === col("t1"), 1).otherwise(0)).over(w))
        .withColumn("t2", max(when(col("smax") < col("t1"), col("smax"))).over(w))
        .withColumn("sk_t1", max(when(col("smax") === col("t1"), col("sk"))).over(w))
        .groupBy("ok") // per-ok constants -> one row per order, same layout
        .agg(max(col("nsupp")).as("nsupp"), max(col("t1")).as("t1"),
          max(col("cnt_t1")).as("cnt_t1"), max(col("t2")).as("t2"),
          max(col("sk_t1")).as("sk_t1"))
      rows
        .join(frame.hint("merge"), col("l_orderkey") === col("ok"))
        .filter(col("nsupp") >= 2 && col("l_shipdate") >=
          when(col("cnt_t1") >= 2 || col("l_suppkey") =!= col("sk_t1"), col("t1"))
            .otherwise(col("t2")))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),
    // The mirror-REUSE claim made first-class: the q3 shape consumes the
    // SAME orderkey mirrors j7 built — one layout shuffle serves every
    // query on the key. The dim side broadcasts explicitly so the
    // streamed (orders) side keeps its bucketing through the first join;
    // the fact⋈fact SMJ then plans zero exchanges and zero sorts
    // (PlanQualitySpec), and the group-by rides the same partitioning.
    // Oracle = q3's verbatim SQL: layout must be content-invisible.
    "j8_bucketed_shipping_priority" -> ((s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      broadcast(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"))
        .join(ord.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(li.filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(decSum2(volDec).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Third consumer of the SAME orderkey mirrors (after j8/j9): the q10
    // returned-items shape. customer⋈nation broadcasts as one dim build
    // onto the mirrored orders (which keeps its bucketing through the
    // broadcast join), so the fact⋈fact orderkey SMJ plans zero exchanges
    // and zero fact-side sorts; only the final custkey group-by — whose
    // input is already join-reduced — pays a shuffle. Oracle = q10's
    // verbatim SQL: the layout must be content-invisible.
    "j10_bucketed_returned_items" -> ((s, d) => {
      val ord = graft.sink.BucketedMirror.ensure(s, d, "orders", "o_orderkey")
      val li = graft.sink.BucketedMirror.ensure(s, d, "lineitem", "l_orderkey")
      broadcast(Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey")))
        .join(ord.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                         col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(li.filter(col("l_returnflag") === "R").hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(decSum2(volDec).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // Runtime-filtered fact⋈key-set semi-join: a Bloom sketch of the
    // qualifying order keys probes in lineitem's SCAN stage (native
    // codegen expression), so non-matching fact rows never reach the
    // shuffle; the exact semi-join then removes Bloom false positives —
    // output is identical to the plain semi-join the oracle runs. The
    // always-on, explicit form of the runtime-filter pattern a 100 TB
    // fact join needs regardless of planner heuristics.
    "j11_bloom_prune_semi" -> ((s, d) => {
      val hot = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"))
      graft.joins.Joins.bloomPruneLeftSemi(Tables.lineitem(s, d), hot,
          "l_orderkey", "o_orderkey", expectedItems = 100000L, fpp = 0.01)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"), decSum2(volDec).as("revenue"))
    }),

    // ------------------------------------------------- cleaning composite
    // §2.9 two-pass clean on events.value, summarized per group so the
    // verified output is small but pins the full bounds→null→median chain.
    "c1_two_pass_clean" -> ((s, d) =>
      Cleaning.twoPassClean(Tables.events(s, d), Seq("value"))._1
        .groupBy("event_type")
        .agg(graft.analyze.Analytics.stableMean4(col("value")).as("value_mean"),
             round(min(col("value")), 4).as("value_min"),
             round(max(col("value")), 4).as("value_max"),
             count(lit(1)).as("n"))),

    // ------------------------------------------------------ scalar funcs
    "f1_unit_conversions" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"), col("value"),
        round(Scalars.celsiusToFahrenheit(col("value")), 4).as("fahrenheit"),
        round(Scalars.fahrenheitToCelsius(Scalars.celsiusToFahrenheit(col("value"))), 4).as("roundtrip"))),
    "f4_date_range" -> ((s, d) =>
      Tables.orders(s, d)
        .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
        .select(explode(Scalars.dateRange(col("lo"), col("hi"))).as("d"))),
    "f5_map_lookup" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("label", Scalars.mapLookup(col("event_type"),
          Seq("click" -> "engagement", "view" -> "engagement",
              "purchase" -> "conversion", "signup" -> "conversion"), "other"))
        .groupBy("event_type", "label").agg(count(lit(1)).as("cnt"))),
    "f6_time_features" -> ((s, d) =>
      Scalars.withTimeFeatures(Tables.events(s, d), "ts")
        .select("event_id", "date", "hour", "day_of_week")),
    // F14/semi-structured: JSON property extraction from the events.props
    // string column — schema-on-read without a UDF.
    "f7_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k_value", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(round(avg(col("k_value")), 4).as("k_mean"),
             max(col("k_value")).as("k_max"),
             count(lit(1)).as("n"))),

    // ----------------------------------------------------- text analysis
    "t1_doc_stats" -> ((s, d) =>
      Text.docStats(Tables.documents(s, d), "text", stopwords)
        .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "type_token_ratio")),
    "t2_lang_id" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(Text.langId(col("text")).as("predicted_lang"))
        .agg(count(lit(1)).as("cnt"))),
    "t3_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))),
    "t4_subword_count" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Text.subwordCount(col("text")).cast("long").as("n_subwords"))),
    "t5_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))),
    "t8_vocabulary" -> ((s, d) =>
      Text.vocabulary(Tables.documents(s, d), "text", topK = 50)),
    "t9_tfidf" -> ((s, d) =>
      Text.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)),
    // Winnowing fingerprint census, dump-replay oracled: the query dumps
    // the positional k-gram hash sequence (engine-keyed phase) and
    // publishes the NATIVE winnow's per-doc selected-set stats; DuckDB
    // independently replays the window-minimum selection (pure windowed
    // relational logic) over the identical dump — so the native codegen
    // loop's selection semantics are cross-checked, not just row counts.
    "t7_winnow" -> ((s, d) => {
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
    }),
    "t6_char_shingles" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), size(Text.charShingles(col("text"), 5)).cast("long").as("n_shingles"))),

    // Gopher-style repetition census: top-3-gram fraction per doc — the
    // standard boilerplate/loop-spam quality rule.
    "t12_repetition" -> ((s, d) =>
      Text.repetitionStats(Tables.documents(s, d), "doc_id", "text", n = 3)),

    // Sequence packing (concat-and-split): per-shard deterministic doc
    // order, cumulative token positions, fixed 64-token sequence cuts —
    // per-shard window arithmetic, no global sort (the d11 shape).
    "t25_sequence_pack" -> ((s, d) =>
      Text.sequencePack(Tables.documents(s, d), "doc_id", "text",
        seqLen = 64, nShards = 8)),

    // Exact substring-level duplicate-span census (Lee et al. marking
    // pass): 8-token windows occurring in >= 2 docs, per-doc union
    // coverage via gaps-and-islands on window starts — md5-keyed shuffle,
    // interval arithmetic instead of per-token rows.
    "t24_dup_spans" -> ((s, d) =>
      Text.dupSpanStats(Tables.documents(s, d), "doc_id", "text",
        w = 8, minDocs = 2)),

    // Bigram LM fluency score: add-1-smoothed P(w2|w1), model tables
    // derived from one tf aggregation (never re-scans text), V as a
    // broadcast scalar — the KenLM-ish quality filter above t17's unigram.
    "t23_bigram_logprob" -> ((s, d) =>
      Text.bigramLogProb(Tables.documents(s, d), "doc_id", "text")),

    // φ-heavy hitters over 3-gram occurrences: SpaceSaving candidate
    // sketch (each task ships ≤ capacity pairs across the exchange, never
    // one row per distinct gram) → broadcast exact recount. φ = 1/5000
    // with capacity 8192 > 1/φ keeps the no-miss bound at EVERY corpus
    // size; at sf0.01 the 16k distinct grams vs 8k capacity make the
    // eviction path do real work.
    "t22_heavy_ngrams" -> ((s, d) =>
      Text.heavyHitters(
        Tables.documents(s, d).select(
          explode(Text.wordShingleOccurrences(col("text"), 3)).as("gram")),
        col("gram"), phiInverse = 5000L, capacity = 8192)),

    // Cross-doc duplicated-span score: fraction of each doc's distinct
    // 5-gram shingles occurring in >= 2 docs (t12's ACROSS-doc twin —
    // the span-level signal a C4-style corpus dedup acts on).
    "t19_crossdoc_shingles" -> ((s, d) =>
      Text.crossDocShingles(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDocs = 2)),

    // DSIR importance weights: mean per-token log-ratio of the target
    // (src0/src1 as the wiki-like seed) vs corpus unigram distributions,
    // Laplace-smoothed — the data-selection score importance resampling
    // keeps documents by.
    "t20_dsir_weights" -> ((s, d) =>
      Text.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        col("source").isin("src0", "src1"))),

    // DSIR selection: Gumbel-top-k resampling over the t20 weights with
    // content-hash-deterministic noise — the 100 docs importance
    // resampling actually keeps.
    "t21_dsir_resample" -> ((s, d) =>
      Text.dsirResample(Tables.documents(s, d), "doc_id", "text",
        col("source").isin("src0", "src1"), k = 100)),

    // DSIR in the paper's hashed-n-gram feature space: bigrams hashed
    // into a FIXED 10k-bucket domain, so the driver model is
    // constant-size by construction — the unconditional 100 TB form
    "t26_dsir_hashed" -> ((s, d) =>
      Text.dsirWeightsHashed(Tables.documents(s, d), "doc_id", "text",
        col("source").isin("src0", "src1"), buckets = 10000)),

    // Benchmark-decontamination scrub: word-boundary denylist hits counted
    // and redacted, publish the hit count + cleaned length per doc.
    "t10_decontaminate" -> ((s, d) =>
      Text.decontaminate(Tables.documents(s, d), "text", Seq("spark", "query"))
        .select(col("doc_id"), col("n_hits"),
                length(col("clean_text")).cast("long").as("n_clean_chars"))),

    // Concatenate-then-chunk packing plan: per-source running token offset
    // and the training-window id each document starts in.
    "t11_chunk_plan" -> ((s, d) =>
      Text.chunkPlan(Tables.documents(s, d), "source", "doc_id", "text",
        contextLen = 2048)),
    // Bloom-filter eval-set decontamination: every 97th doc stands in as
    // the benchmark; the corpus streams past its shingle sketch with no
    // join. Bloom bit layout is engine-internal -> rows-only; the gate
    // proves no-false-negatives + bounded FP rate vs the exact join.
    "t18_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Text.bloomDecontaminate(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", n = 5, fpp = 0.001)
    }),
    // Unigram-LM quality score (mean token log-prob under the corpus's
    // own unigram distribution) — the SQL-able stand-in for a perplexity
    // filter. Decimal-accumulated mean -> engine-stable.
    "t17_unigram_logprob" -> ((s, d) =>
      Text.unigramLogProb(Tables.documents(s, d), "doc_id", "text")),
    // Sliding-window chunking (overlap = 4 tokens at these parameters):
    // the RAG/embedding complement of t11's concat-and-chunk. Small
    // window/stride so the sf0.01 docs (~30 tokens) produce real
    // multi-chunk plans. Pure map-side sequence+posexplode.
    "t16_chunk_overlap" -> ((s, d) =>
      Text.chunkPlanOverlap(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 16, stride = 12)),

    // PII scrub over a deterministically-dirtied column: the testdata text
    // contains no PII at all (pure word soup), so an email/phone/IPv4 is
    // derived from doc_id identically in both engines — a zero-hit oracle
    // would pin nothing. Patterns are RE2-safe so DuckDB compiles the
    // byte-identical regex.
    "t13_pii_scrub" -> ((s, d) =>
      Text.piiScrub(
        Tables.documents(s, d).withColumn("dirty", concat(
          col("text"), lit(" Contact doc"), col("doc_id").cast("string"),
          lit("@example.com call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".1"))),
        "doc_id", "dirty")),

    // URL/domain census over a deterministically-dirtied column (testdata
    // has no URLs): each doc gains one URL whose domain derives from
    // doc_id, so the corpus-level domain distribution is oracle-checkable.
    "t15_domain_census" -> ((s, d) =>
      Text.domainCensus(
        Tables.documents(s, d).withColumn("dirty", concat(
          col("text"), lit(" see https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.org/path?q=1 and more"))),
        "dirty")
        .orderBy(col("n").desc, col("domain"))),

    // C4 line rules over a 4-line synthetic document (real line, short
    // line, boilerplate line, markup line) — exactly one line survives,
    // and the full kept text is string-compared against the oracle.
    "t14_c4_lines" -> ((s, d) =>
      Text.c4LineFilter(
        Tables.documents(s, d).withColumn("dirty", concat(
          substring(col("text"), 1, 120),
          lit(" end.\nshort\nPlease enable javascript and accept our cookie policy.\n{ \"nav\": 1 }"))),
        "doc_id", "dirty", minWords = 5)),

    // ------------------------------------------------------------- dedup
    // Content-hash train/val/test split census: md5-keyed so the oracle
    // (and any other engine) recomputes the identical assignment.
    "d7_hash_split" -> ((s, d) =>
      graft.dedup.Dedup.hashSplit(Tables.documents(s, d), "text")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"))),

    // Weighted source mixing census: down-sample named sources to target
    // mixture fractions, content-hash-keyed (reproducible + duplicate-
    // consistent).
    "d8_source_mix" -> ((s, d) =>
      graft.dedup.Dedup.weightedSourceSample(Tables.documents(s, d),
          "source", "text", Map("src0" -> 0.5, "src1" -> 0.1))
        .groupBy("source")
        .agg(count(lit(1)).as("n"))),

    // Per-source cap census: at most 15 docs per source by content-hash
    // order (unbiased, engine-recomputable) — summarized as kept counts.
    "d9_source_cap" -> ((s, d) =>
      Dedup.perSourceCap(Tables.documents(s, d), "source", "doc_id", "text", cap = 15)
        .groupBy("source").agg(count(lit(1)).as("n_kept"),
                               min(col("doc_id")).as("min_kept_id"))),

    // Interleaved training order: first 100 global positions of the
    // round-robin source mix (sources src0..src19 -> index = suffix).
    "d10_interleave" -> ((s, d) =>
      Dedup.interleaveOrder(Tables.documents(s, d), "source", "doc_id", "text",
          nSources = 20, sourceIndex = substring(col("source"), 4, 8).cast("int"))
        .select(col("pos"), col("source"), col("doc_id"))
        .orderBy("pos").limit(100)),

    // Seeded epoch shuffle: shard round-robin on id, seeded-hash order
    // within shard — the reproducible training-order layout. Fully
    // SQL-expressible (md5-hex recipe shared with d10) -> oracled.
    "d11_epoch_shuffle" -> ((s, d) =>
      Dedup.epochShuffle(Tables.documents(s, d), "doc_id", seed = 7, nShards = 4)
        .select(col("doc_id"), col("shard"), col("pos"))),

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
    "d12_dup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashSpanningEdges(docs, "doc_id", "text", threshold = 0.8)
      Dedup.dupClusters(pairs.select(col("id1"), col("id2")))
    }),

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
    "d14_fuzzy_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cands = dumpedCandidates(s, "d14", d,
        Dedup.minhashSpanningEdges(docs, "doc_id", "text", threshold = 0.8))
      val pairs = Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
      Dedup.fuzzySurvivors(docs, "doc_id", pairs.select(col("id1"), col("id2")))
    }),

    // Incremental dedup (today's batch vs the standing corpus): every
    // 10th doc plays the new batch, the rest the corpus; candidates are
    // strictly new×corpus (never corpus×corpus), dumped like d13 so the
    // oracle replays the exact-Jaccard verify over the identical pair set.
    "d15_incremental_neardups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val newBatch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val cands = dumpedCandidates(s, "d15", d,
        Dedup.incrementalCandidatePairs(newBatch, corpus, "doc_id", "text"))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    }),

    // d15 through the PERSISTED corpus index (LshIndex): build-once
    // standing buckets, DPP-pruned probe scan; only the new batch is
    // hashed per run. Candidate set == d15's by construction; same
    // verify-replay oracle over this query's own dump.
    "d16_incremental_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val newBatch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val idx = graft.dedup.LshIndex.ensure(s, d,
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), subset = "mod10ne0")
      val cands = dumpedCandidates(s, "d16", d,
        Dedup.incrementalCandidatePairsIndexed(idx, newBatch, "doc_id", "text"))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    }),

    // The LSH pipeline's VERIFY stage, oracled end-to-end: candidate
    // GENERATION is xxhash-keyed (rows-only by nature, like d3/d4), but
    // once the Spark-produced candidate set is materialized to parquet,
    // the verify stage — exact n-gram Jaccard over exactly those pairs,
    // threshold on the rounded value — is plain SQL. The DuckDB oracle
    // reads the SAME dumped candidates and replays the verify; the
    // output (the exact pair table d12 clusters) hash-matches. This
    // shrinks the rows-only set to pure-signature queries.
    "d13_lsh_verified_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // verify-mode: score the read-back dump, so Spark and the oracle
      // provably score the IDENTICAL pair set (dumpedCandidates)
      val cands = dumpedCandidates(s, "d13", d,
        Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    }),

    // The SimHash pipeline's VERIFY stage, oracled end-to-end (the d13
    // pattern applied to d4's signature family): candidate generation —
    // 16-bit chunk blocking + hamming <= 3 on the xxhash64-derived
    // fingerprints — is engine-keyed (rows-only by nature), but once the
    // hamming-verified pair set is dumped, the exact n-gram Jaccard over
    // exactly those pairs is plain SQL, replayed by DuckDB over the
    // identical dump. Shrinks the rows-only remainder: d4's signatures
    // stay signature-gated, its PAIRS are now hash-checked.
    "d19_simhash_verified_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cands = dumpedCandidates(s, "d19", d,
        Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
          .select(col("id1"), col("id2")))
      Dedup.jaccardForPairs(docs, cands, "doc_id", "text")
        .filter(col("jaccard") >= 0.8)
    }),

    // Incremental EXACT dedup (the pass that runs BEFORE d15/d16's
    // near-dup machinery in a daily-crawl pipeline): batch rows whose
    // content hash is absent from the standing corpus. md5 is
    // engine-portable, so unlike the LSH family this needs no dump —
    // the oracle replays the whole operator directly.
    "d17_incremental_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalExactNew(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
    }),
    // d17 through the persisted content-hash ledger (HashLedger): only
    // the batch is hashed per run; membership is a DPP-pruned probe of
    // the standing hash-group layout (see HashLedger's probe-shape note
    // on why the anti join runs as inner + knockout).
    "d18_incremental_exact_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ledger = graft.dedup.HashLedger.ensure(s, d,
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), subset = "mod10ne0")
      Dedup.incrementalExactNewIndexed(ledger,
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
    }),

    "d1_exact_dup_stats" -> ((s, d) => Dedup.exactDupStats(Tables.documents(s, d), "text")),
    "d2_exact_dedup" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")),
    "d3_lsh_buckets" -> ((s, d) => Dedup.lshBuckets(Tables.documents(s, d), "doc_id", "text")),
    "d4_simhash_sigs" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), Dedup.simhash(col("text")).as("simhash64"))),
    "d6_curation_funnel" -> ((s, d) =>
      Dedup.curationFunnel(Tables.documents(s, d), "doc_id", "text", "source",
        minQuality = 0.5, lang = "en")),
    "d5_jaccard_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.jaccardForPairs(docs, pairs, "doc_id", "text")
    }),

    // ---------------------------------------------------- multimodal
    // Metadata-only resize plan over the synthetic media parquet (derived
    // deterministically from documents, so DuckDB recomputes it in SQL):
    // the scan's ReadSchema excludes `bytes` — filters/projections on the
    // typed meta struct never touch a blob (PlanQualitySpec gate).
    "m1_resize_plan" -> ((s, d) =>
      graft.multimodal.Multimodal.resizePlan(
        graft.multimodal.Multimodal.syntheticMediaTable(s, d), maxSide = 512)),
    // Frame-sampling plan for the video assets: a generator emitting n
    // evenly-spaced pseudo-frames per row — n rows out per row in, no
    // shuffle, still metadata-only.
    "m2_frame_plan" -> ((s, d) =>
      graft.multimodal.Multimodal.sampleFrames(
          graft.multimodal.Multimodal.syntheticMediaTable(s, d), n = 4)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
                col("frame_ms"))),
    // Audio-chunking arithmetic for the audio assets — windows + total
    // samples from metadata alone, still never reading a blob byte.
    "m3_audio_windows" -> ((s, d) =>
      graft.multimodal.Multimodal.audioWindows(
        graft.multimodal.Multimodal.syntheticMediaTable(s, d), windowMs = 5000)),
    // Content-addressed blob dedup — the one multimodal operator that
    // MUST read the bytes (it hashes them); the shuffle still carries
    // only (hash, id, length). Oracled: the synthetic blobs are the
    // document text as binary, so DuckDB recomputes md5 directly.
    "m4_blob_dedup" -> ((s, d) =>
      graft.multimodal.Multimodal.blobDedup(
        graft.multimodal.Multimodal.syntheticMediaTable(s, d))),

    // REAL image decode (round-14: javax.imageio probe came back
    // positive): ImageIO-encoded two-tone PNGs, decoded per blob in a
    // mapPartitions batch; published dims + exact per-channel pixel sums
    // come OUT OF THE DECODED RASTER while the oracle re-derives them
    // from the generative formulas (MediaCodec) — a hash match proves
    // the codec round trip, not just plumbing.
    "m5_image_decode" -> ((s, d) =>
      graft.multimodal.Multimodal.imageDecodeStats(
        graft.multimodal.Multimodal.syntheticImageTable(s, d))),
    // REAL resize round trip: decode → nearest-neighbor resample
    // (maxSide 24, aspect preserved, never upscaled) → re-encode →
    // decode again; published dims + corner pixels of the re-decoded
    // image, oracle-replayed from the formulas (nearest-neighbor keeps
    // the two-tone corners exactly — MediaCodec.resizePng).
    "m6_image_resize" -> ((s, d) =>
      graft.multimodal.Multimodal.imageResizeStats(
        graft.multimodal.Multimodal.syntheticImageTable(s, d), maxSide = 24)),
    // DECODED-content image dedup: the dup-image table carries each
    // content seed in TWO different PNG byte streams (the plain encode
    // and a tEXt-chunk-spliced variant — pixel-identical, byte-distinct;
    // see MediaCodec.encodePngVariant on why not a re-encode), so
    // byte-level dedup sees ~2 contents per seed while grouping on the
    // decoded pixel digest must see exactly one. The oracle replays the
    // seed arithmetic; a hash match proves the codec normalized the
    // byte-stream variance away.
    "m8_image_content_dedup" -> ((s, d) =>
      graft.multimodal.Multimodal.imageContentDedup(
        graft.multimodal.Multimodal.syntheticDupImageTable(s, d))),

    // REAL audio decode (javax.sound WAV): square-wave PCM clips whose
    // peak / mean-|sample| are formula constants; Spark reads them from
    // the decoded frames, the oracle recomputes them arithmetically.
    "m7_audio_decode" -> ((s, d) =>
      graft.multimodal.Multimodal.wavDecodeStats(
        graft.multimodal.Multimodal.syntheticWavTable(s, d))),

    // Second REAL image codec (JPEG, lossy): dims round-trip exactly and
    // are the oracle surface — read through the codec's HEADER probe
    // (no raster scan for a dims-only projection); pixel fidelity is
    // spec-gated with a tolerance in MultimodalSpec (DCT + chroma
    // subsampling make exact channel sums engine-honest but not
    // formula-replicable).
    "m11_jpeg_decode" -> ((s, d) =>
      graft.multimodal.Multimodal.imageDecodeDims(
        graft.multimodal.Multimodal.syntheticJpegTable(s, d))),

    // REAL multi-frame motion decode (animated GIF — the JDK's genuine
    // moving-picture codec; ffmpeg-class video remains the one honest
    // stub): every frame of every asset decoded frame-by-frame, channel
    // means read from the rasters, replayed arithmetically by the oracle.
    "m15_gif_frames" -> ((s, d) =>
      graft.multimodal.Multimodal.gifFrameStats(
        graft.multimodal.Multimodal.syntheticGifTable(s, d))),
    // the m2 frame-sampling PLAN made actual: n evenly-spaced REALLY
    // DECODED frames per asset (frame floor(F*i/n)), stats from the
    // decoded rasters.
    "m16_gif_frame_sample" -> ((s, d) =>
      graft.multimodal.Multimodal.sampleGifFrames(
        graft.multimodal.Multimodal.syntheticGifTable(s, d), n = 4)),
    // the same sampler at n = 8 — WIDER than every asset's frame count
    // (2..5), so every asset exercises the duplicate-index branch (each
    // frame decoded once, emitted for every sample slot that maps to it)
    // under the oracle rather than only under the spec.
    "m16b_gif_frame_sample_wide" -> ((s, d) =>
      graft.multimodal.Multimodal.sampleGifFrames(
        graft.multimodal.Multimodal.syntheticGifTable(s, d), n = 8)),

    // PERCEPTUAL hash from the real decode (top rung of the media dedup
    // ladder: bytes m4 → decoded content m8 → perception m13/m14): the
    // grid fixtures make every average-hash BIT formula-replicable, so
    // the oracle recomputes the hash halves arithmetically while Spark
    // reads them out of decoded pixels.
    "m13_image_ahash" -> ((s, d) =>
      graft.multimodal.Multimodal.imageAverageHashes(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d))),
    // Perceptual near-dup pairs: chunk-blocked (SimHash recipe on
    // pixels), exact hamming <= 3 verify. The oracle brute-forces all
    // pairs from the formula hashes — the engine must find exactly the
    // same set through its bucketed plan (pigeonhole guarantees no
    // hamming<=3 pair can escape the blocking).
    "m14_image_perceptual_neardups" -> ((s, d) =>
      graft.multimodal.Multimodal.perceptualNearDups(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d), maxHamming = 3)),
    // the perception GRAPH itself (r15): verified hash pairs over the
    // distinct-perception universe, never expanded to members — the
    // operator a clusterer consumes. The oracle brute-forces hamming
    // over the distinct formula hashes with the same signed 64-bit
    // packing the engine publishes.
    "m17_perceptual_hash_pairs" -> ((s, d) =>
      graft.multimodal.Multimodal.perceptualHashPairs(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d), maxHamming = 3)),
    // perception clusters (r15): connected components over the m17 pair
    // graph through the shared d12 union-find — the oracle recomputes
    // the closure with a recursive CTE over the brute-force pair set.
    "m18_perceptual_clusters" -> ((s, d) =>
      graft.multimodal.Multimodal.perceptualDupClusters(
        graft.multimodal.Multimodal.syntheticGridImageTable(s, d), maxHamming = 3)),
    // AUDIO perception rung (r15): envelope hash from the real decoded
    // PCM — averageHash's recipe on sound; on the AM fixtures every bit
    // is formula-replicable (window mean |sample| IS the amplitude).
    "m20_audio_envelope_hash" -> ((s, d) =>
      graft.multimodal.Multimodal.audioEnvelopeHashes(
        graft.multimodal.Multimodal.syntheticAmWavTable(s, d))),
    // and the audio perception GRAPH: chunk-blocked hamming pairs over
    // the distinct envelope-hash universe — m17's shape with the audio
    // codec in front.
    "m21_audio_perceptual_pairs" -> ((s, d) =>
      graft.multimodal.Multimodal.audioPerceptualHashPairs(
        graft.multimodal.Multimodal.syntheticAmWavTable(s, d), maxHamming = 3)),

    // incremental PERCEPTUAL-new (r15): a MASKED batch (cell-inversion
    // fixture — new perceptions at small hamming from the corpus family;
    // a seed-only batch proved useless here, every seed's hash is
    // already IN the corpus universe because uniform luma shifts
    // preserve the above-mean pattern) against the standing unmasked
    // corpus — batch assets survive iff no corpus perception sits
    // within hamming 3 (at sf0.01: 41 die, 9 survive). Only the batch
    // decodes; the corpus side is the narrow packed-hash frame. The
    // oracle replays both fixtures' formula hashes + the NOT EXISTS.
    "m19_incremental_perceptual_new" -> ((s, d) => {
      val batch = graft.multimodal.Multimodal
        .syntheticMaskedGridImageTable(s, d)
        .filter(pmod(col("media_id"), lit(10)) === 0)
      val corpus = graft.multimodal.Multimodal.syntheticGridImageTable(s, d)
        .filter(pmod(col("media_id"), lit(10)) =!= 0)
      graft.multimodal.Multimodal.incrementalPerceptualNew(
        batch, graft.multimodal.Multimodal.packedImageHashes(corpus))
    }),

    // Incremental CONTENT-new media (the d17 daily-crawl pass with the
    // codec in front): batch assets whose decoded pixels are absent from
    // the standing corpus — re-encoded copies of corpus content die even
    // though their bytes are novel. Only the batch decodes per run; the
    // corpus side is the narrow digest frame. The oracle replays the
    // seed-coverage arithmetic (NOT EXISTS over the generative groups).
    "m9_incremental_content_new" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.syntheticDupImageTable(s, d)
      val batch = media.filter(pmod(col("media_id"), lit(10)) === 0)
      val corpus = media.filter(pmod(col("media_id"), lit(10)) =!= 0)
      graft.multimodal.Multimodal.incrementalContentNew(
          batch, graft.multimodal.Multimodal.imagePixelDigests(corpus))
        .select("media_id")
    }),
    // m9 through the PERSISTED pixel-digest ledger (the d18 pattern for
    // media): corpus decoded once at ledger build, batch membership is a
    // DPP-pruned probe — no corpus re-decode per run. Same output as m9
    // by construction; same oracle.
    "m12_incremental_content_indexed" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.syntheticDupImageTable(s, d)
      val batch = media.filter(pmod(col("media_id"), lit(10)) === 0)
      val ledger = graft.multimodal.Multimodal.ensureDigestLedger(s, d,
        media.filter(pmod(col("media_id"), lit(10)) =!= 0), subset = "png_mod10ne0")
      graft.multimodal.Multimodal.incrementalContentNewIndexed(ledger, batch)
        .select("media_id")
    }),

    // Windowed features from REAL decoded PCM (the fbank batching shape
    // with actual frames): fixed 1000-sample windows, per-window frame
    // count and exact mean |sample| — on the square-wave fixtures every
    // window's mean is the formula amplitude, so the whole exploded
    // frame is oracle-replicable.
    "m10_audio_features" -> ((s, d) =>
      graft.multimodal.Multimodal.audioWindowFeatures(
        graft.multimodal.Multimodal.syntheticWavTable(s, d), windowSamples = 1000)),

    // --------------------------------------------- embedding similarity
    "s1_brute_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
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
    "s2_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.sim.SrpIndex.ensure(s, d, emb, nTables = 12)
      val cands = dumpedCandidates(s, "s2", d,
        Similarity.annCandidatePairsIndexed(idx, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
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
    "s4_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (assigned, cents) = graft.sim.IvfIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s4", d,
        Similarity.ivfCandidatePairsAssigned(assigned, cents, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
    // incremental SRP (s14): the multi-table LSH index absorbs the same
    // daily batch — bucketing with the PERSISTED geometry is a pure
    // per-row function, so the appended index searches identically to a
    // cold same-geometry build (SimilaritySpec); rescore dump-replayed
    "s14_srp_append_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.sim.SrpIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), nTables = 12,
        subset = "inc")
      val idx = graft.sim.SrpIndex.append(s, d, 12, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s14", d,
        Similarity.annCandidatePairsIndexed(idx, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
    // incremental IVF (s13): the persisted index absorbs a daily vector
    // batch by pure centroid assignment — no re-cluster, no corpus
    // re-scan; a replayed batch key overwrites its own generation
    // (idempotent). Searching the appended index == searching a cold
    // same-centroid build over corpus ∪ batch (SimilaritySpec gates the
    // bit equality); the rescore stage is oracled via dump-replay like s4
    "s13_ivf_append_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, cents) = graft.sim.IvfIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
      val (assigned, _) = graft.sim.IvfIndex.append(s, d, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s13", d,
        Similarity.ivfCandidatePairsAssigned(assigned, cents, emb.filter(col("vec_id") < 8)))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
    // incremental PQ (s15): the compressed code table absorbs a daily
    // vector batch by pure re-encode against the FROZEN codebooks — no
    // re-train, no corpus re-scan; a replayed batch key overwrites its
    // own generation (idempotent), a batch folded by compact() no-ops
    // on the folded keys. Scanning the appended table == scanning a
    // cold same-codebook encode of corpus ∪ batch (SimilaritySpec gates
    // the bit equality); the rescore stage is dump-replay oracled like
    // s10
    "s15_pq_append_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, cb) = graft.sim.PqIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
      val (codes, _) = graft.sim.PqIndex.append(s, d, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s15", d,
        Similarity.pqCandidatePairsEncoded(codes, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
    // incremental IVF-PQ (s16): the composed 100 TB layout absorbs the
    // same batch — encode with the frozen PQ codebooks, assign to the
    // frozen IVF centroids, land as one cell-partitioned generation the
    // probe's dynamic partition pruning treats exactly like the base
    // (SimilaritySpec gates layout parity vs the cold composed join).
    // Rescore dump-replay oracled like s11
    "s16_ivfpq_append_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, cents, cb) = graft.sim.IvfPqIndex.ensure(s, d,
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
      val (codesByCell, _, _) = graft.sim.IvfPqIndex.append(s, d, "b0",
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
      val cands = dumpedCandidates(s, "s16", d,
        Similarity.ivfPqCandidatePairs(codesByCell, cents, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
    // MMR-diversified retrieval: exact top-20 candidates, then greedy
    // λ·relevance − (1−λ)·redundancy selection of 5 — vector math stays
    // in native expressions (4dp-rounded before selection), the
    // sequential greedy runs as typed flatMapGroups over bounded groups.
    // Fully oracled: the candidate set is the exact brute-force top-20
    // (engine-independent), so DuckDB re-derives it and replays the
    // greedy as five unrolled argmax stages.
    "s9_mmr_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 8), kCand = 20, k = 5)
    }),

    // Cross-table join of the two LLM extension tables: documents enriched
    // with their embedding's L2 norm, summarized per source. The norm is
    // computed in double (native codegen dot) and quantized to
    // decimal(20,10) BEFORE the mean so summation is order-free and
    // engine-stable (same discipline as s3). At corpus scale both sides
    // are big: the id equi-join is a sort-merge shuffle on the key unless
    // both tables are bucketed on it (Sinks.writeBucketed), which makes it
    // exchange-free; at test scale AQE broadcasts the smaller side.
    "s5_doc_embedding_join" -> ((s, d) => {
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
    }),

    // stable 4-digit rounding (see Analytics.stableMean4): scale before
    // round so the boundary is dyadic, +0.0 normalizes negative zero
    "s3_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))
        .select(col("label"), col("pos").cast("long").as("pos"),
                (round(col("mean_x") * 10000) / 10000.0 + lit(0.0)).as("mean_x"),
                col("n"))),
    // auto-sized planes (log₂(N/125), floor 4): the bucket SELF-join's
    // per-bucket cost is quadratic in occupancy, so a fixed plane count
    // is the worst scale liability of the near-dup family
    "e1_embedding_neardups" -> ((s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.2, maxDim = 64)),
    // The embedding near-dup VERIFY stage, oracled end-to-end (the e-path
    // twin of d13): candidate generation is SRP-hash-keyed (rows-only by
    // nature, like e1), but once the Spark-produced pair set is dumped,
    // exact-cosine-≥-τ over it is replayable in SQL — DuckDB rescores the
    // IDENTICAL pairs with list_cosine_similarity (the s1-proven exact
    // comparison) and the output hash-matches.
    "e2_embedding_verified_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cands = dumpedCandidates(s, "e2", d,
        Dedup.srpCandidatePairs(emb, "vec_id", "embedding", maxDim = 64))
      Dedup.cosineForPairs(emb, cands, "vec_id", "embedding")
        .filter(col("cos") >= 0.2)
    }),
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
    "e3_semantic_survivors" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cands = dumpedCandidates(s, "e3", d,
        Dedup.srpSpanningEdges(emb, "vec_id", "embedding", threshold = 0.2, maxDim = 64))
      val pairs = Dedup.cosineForPairs(emb, cands, "vec_id", "embedding")
        .filter(col("cos") >= 0.2)
      Dedup.fuzzySurvivors(emb, "vec_id", pairs.select(col("id1"), col("id2")))
    }),

    // Symmetric int8 quantization summary (scale + integer checksums of the
    // quantized array): the standard vector-index compression step, published
    // as a hash-comparable per-vector projection. Pure map-side scan — at
    // 100 TB this is one pass, zero shuffle. floor(x+0.5) half-up is chosen
    // over round() because the latter's tie handling differs between engines
    // (see Similarity.int8Quantize doc).
    "s6_int8_quantize" -> ((s, d) =>
      Similarity.int8Quantize(Tables.embeddings(s, d))),
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
    "s7_ann_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.sim.SrpIndex.ensure(s, d, emb, nTables = 12)
      val cands = dumpedCandidates(s, "s7", d,
        Similarity.annSurvivorsInt8Indexed(idx, emb.filter(col("vec_id") < 8), rerank = 32))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
    // IVF with the same int8 prefilter: cell assignment on the raw
    // vectors (cosine is norm-invariant), probed-cell candidates scored
    // by integer dot, top-rerank exact rescore. Centroid-sample dependent
    // like s4 -> rows-only; SimilaritySpec gates recall >= 0.6 and the
    // measured exact-comparison reduction vs plain IVF. Shares s4's
    // persisted auto-sized index (the __qc/__sc columns were assigned in
    // the same build pass); the probe scan prunes to probed cells via
    // dynamic partition pruning.
    // s7's dump-replay oracle pattern over the IVF int8 survivors.
    "s8_ivf_int8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (assigned, cents) = graft.sim.IvfIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s8", d,
        Similarity.ivfSurvivorsInt8Assigned(assigned, cents,
          emb.filter(col("vec_id") < 8), rerank = 16))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
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
    "s10_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (codes, cb) = graft.sim.PqIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s10", d,
        Similarity.pqCandidatePairsEncoded(codes, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),
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
    "s11_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (codesByCell, cents, cb) = graft.sim.IvfPqIndex.ensure(s, d, emb)
      val cands = dumpedCandidates(s, "s11", d,
        Similarity.ivfPqCandidatePairs(codesByCell, cents, cb,
          emb.filter(col("vec_id") < 8), kCand = 64))
      Similarity.exactRerank(cands, emb, emb.filter(col("vec_id") < 8), k = 5)
    }),

    // ---- z: multi-dimensional clustered layout (z-order mirror) ----
    // The scan rides the persisted Z-ORDERED mirror of orders (one-time
    // layout pass, ZOrderMirror.ensure) so BOTH range predicates prune
    // at file/row-group min-max level; the layout is a permutation, so
    // the oracle is the same SQL on the raw table.
    "z1_zorder_prune" -> ((s, d) => {
      val z = graft.sink.ZOrderMirror.ensure(s, d, "orders",
        Seq("o_totalprice", "o_custkey"))
      z.filter(col("o_totalprice").between(50000, 150000) &&
               col("o_custkey").between(200, 1000))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
             decSum2(col("o_totalprice").cast("decimal(18,6)")).as("revenue"))
    }),

    // ---- er: entity resolution (fuzzy record linkage) ----
    // Token-blocked levenshtein match over the DISTINCT part-name
    // universe (names, never rows), then every part labeled with its
    // connected component's min name via one broadcast join back.
    "er1_name_matches" -> ((s, d) =>
      graft.er.EntityResolution.nameMatchPairs(
        Tables.part(s, d), "p_name", maxDist = 2)),
    "er2_entity_groups" -> ((s, d) =>
      graft.er.EntityResolution.entityGroups(
        Tables.part(s, d), "p_partkey", "p_name", maxDist = 2)),
    // the conformed-dimension publish: er2's labels plus the keep rule
    // (a row survives iff its name IS the canonical label — the d14
    // survivor shape at name granularity)
    "er5_entity_survivors" -> ((s, d) =>
      graft.er.EntityResolution.entitySurvivors(
        Tables.part(s, d), "p_partkey", "p_name", maxDist = 2)),
    // incremental ER (the d15/m9 "only the batch pays" pattern on
    // names): a 10% batch conformed to the 90% standing name universe
    "er3_incremental_matches" -> ((s, d) => {
      val part = Tables.part(s, d)
      graft.er.EntityResolution.incrementalEntityMatches(
        part.filter(pmod(col("p_partkey"), lit(10)) === 0),
        part.filter(pmod(col("p_partkey"), lit(10)) =!= 0),
        "p_partkey", "p_name", maxDist = 2)
    }),
    // er3 through the persisted NameIndex (the d16/m12 indexed-twin
    // shape): identical answer, but only the batch derives tokens —
    // the standing side is the one-time capped token-block artifact
    "er4_incremental_indexed" -> ((s, d) => {
      val part = Tables.part(s, d)
      val idx = graft.er.NameIndex.ensure(s, d, "part", "mod10ne0",
        part.filter(pmod(col("p_partkey"), lit(10)) =!= 0), "p_name")
      graft.er.EntityResolution.incrementalEntityMatchesIndexed(
        part.filter(pmod(col("p_partkey"), lit(10)) === 0), idx,
        "p_partkey", "p_name", maxDist = 2)
    }),

    // ---- g: link-graph analytics over the clickstream (graft.graph.Graph —
    // the Common Crawl host-ranking shape: pages as vertices, consecutive
    // per-user views as weighted directed edges)
    "g1_page_transitions" -> ((s, d) => graphEdges(s, d)),
    "g2_pagerank" -> ((s, d) =>
      graft.graph.Graph.pageRank(graphEdges(s, d), iters = 3, damping = 0.85)),
    "g3_degree_census" -> ((s, d) =>
      graft.graph.Graph.degreeCensus(graphEdges(s, d))),
    "g4_triangle_census" -> ((s, d) =>
      graft.graph.Graph.triangleCensus(graphEdges(s, d))),
    "g5_page_components" -> ((s, d) =>
      graft.graph.Graph.components(graphEdges(s, d))),
    "g6_harmonic_centrality" -> ((s, d) =>
      graft.graph.Graph.harmonicCentrality(graphEdges(s, d), maxDist = 6)),
    "g7_harmonic_hyperball" -> ((s, d) =>
      graft.graph.Graph.harmonicCentralityHyperBall(graphEdges(s, d), maxDist = 6)),
    "g8_personalized_pagerank" -> ((s, d) =>
      graft.graph.Graph.personalizedPageRank(graphEdges(s, d),
        seeds = Seq(0L, 1L, 2L, 3L, 4L), iters = 3, damping = 0.85)),
    // the incremental edge-maintenance proof (the w18 shape on the edge
    // table): fold the event log in two time-split batches through the
    // per-user last-view state — the oracle replays the ONE-SHOT edge
    // derivation over the full log, so the hash match IS the
    // batch∘batch == one-shot contract
    // both standing frames (edge table + lastViews) from the persisted
    // StateStore artifacts (the w20 note: deployment shape, identical
    // hash) — only the batch term is derived per run
    "g9_edges_incremental" -> ((s, d) => {
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
    }),
    // community detection: weighted synchronous label propagation over
    // the symmetrized transition graph — all-long votes, min-label
    // ties, 4 unrolled rounds (the oracle replays them as CTEs)
    "g10_label_propagation" -> ((s, d) =>
      graft.graph.Graph.labelPropagation(graphEdges(s, d), iters = 4)),
    // warm-start re-rank (g11): resume from the 2-iteration RAW rank
    // snapshot for 1 more iteration — bit-exactly the 3-iteration
    // one-shot (shared init/step expressions, order-independent decimal
    // sums), so the oracle IS g2's unrolled 3-iteration SQL: the
    // snapshot seam is engine-side only, the w18/g9 one-truth pattern
    "g11_pagerank_resume" -> ((s, d) => {
      val e = graphEdges(s, d)
      // fused snapshot→resume over one prepared universe (r21): the
      // resume seam and every expression are the two-call form's — the
      // two-call form re-paid the edge checkpoint + weight normalization
      // for each phase
      graft.graph.Graph.pageRankSnapshotResume(e, iters = 2, extraIters = 1)
    }),
    // warm-start community refresh (g12): resume from the 2-round RAW
    // label snapshot for 2 more rounds — bit-exactly the 4-round
    // one-shot (shared init/step/publish, all-long state), so the
    // oracle IS g10's unrolled 4-round SQL: the snapshot seam is
    // engine-side only, the g11/w18/g9 one-truth pattern
    "g12_lpa_resume" -> ((s, d) => {
      val e = graphEdges(s, d)
      // fused snapshot→resume over one prepared universe (r21, the g11
      // note): same seam, same expressions, one edge checkpoint +
      // pair-domain count instead of two
      graft.graph.Graph.labelPropagationSnapshotResume(e, iters = 2, extraIters = 2)
    }),
    // incremental components (g13): half the edge table is "history"
    // (labeled once), the other half folds in as the batch — exactly
    // the one-shot labeling over everything (min-id labels make star
    // contraction exact), so the oracle IS g5's recursive closure SQL:
    // the batch seam is engine-side only, the one-truth pattern
    "g13_components_incremental" -> ((s, d) => {
      val e = graphEdges(s, d)
      val half = pmod(col("src") + col("dst"), lit(2)) === 0
      graft.graph.Graph.componentsIncrement(
        graft.graph.Graph.components(e.filter(half)), e.filter(!half))
    }),

    // ---- ml: relational full-batch GD quality classifier
    // (graft.ml.QualityClassifier — the fasttext-quality-scoring rung;
    // softsign link so the iterated fit is bit-replayable cross-engine)
    "ml1_quality_weights" -> ((s, d) => {
      val (w, n) = mlWeights(s, d)
      graft.ml.QualityClassifier.weightsSummary(s, w, n)
    }),
    "ml2_quality_scores" -> ((s, d) =>
      graft.ml.QualityClassifier.scoreWith(mlFeatures(s, d), "doc_id",
        mlWeights(s, d)._1.toSeq)),
    // the incremental shape (the m9→m12 / d15 "only the batch pays"
    // pattern): a daily batch — here the doc_id % 7 slice — scored
    // under STANDING weights read from the persisted fit; no training-
    // corpus scan, no fit, one codegen'd pass over the batch
    "ml3_incremental_scores" -> ((s, d) =>
      graft.ml.QualityClassifier.scoreWith(
        mlFeatures(s, d).filter(pmod(col("doc_id"), lit(7L)) === 0),
        "doc_id", mlWeights(s, d)._1.toSeq)),

    // ---- dq: declarative data-quality suites (graft.quality.Checks —
    // the Deequ shape: a whole suite rides ONE conditional-agg scan)
    "dq1_orders_checks" -> ((s, d) =>
      graft.quality.Checks.run(Tables(s, d, "orders"), Seq(
        graft.quality.Checks.rowCountAtLeast(1000.0),
        graft.quality.Checks.completeness("o_custkey", 1.0),
        graft.quality.Checks.uniqueness("o_orderkey", 1.0),
        graft.quality.Checks.minValue("o_totalprice", 0.0),
        graft.quality.Checks.inSet("o_orderstatus", Seq("O", "F", "P"), 1.0),
        graft.quality.Checks.matches("o_orderpriority", "^[1-5]-", 1.0)))),
    "dq2_referential_checks" -> ((s, d) =>
      graft.quality.Checks.referential(
        Tables(s, d, "orders"), "o_custkey",
        Tables(s, d, "customer"), "c_custkey", 1.0)
        .unionAll(graft.quality.Checks.referential(
          Tables(s, d, "lineitem"), "l_orderkey",
          Tables(s, d, "orders"), "o_orderkey", 1.0))),
    "dq3_documents_checks" -> ((s, d) =>
      graft.quality.Checks.run(Tables(s, d, "documents"), Seq(
        graft.quality.Checks.completeness("text", 1.0),
        graft.quality.Checks.uniqueness("doc_id", 1.0),
        graft.quality.Checks.minValue("n_chars", 1.0),
        graft.quality.Checks.maxValue("n_chars", 10000.0),
        graft.quality.Checks.inSet("lang",
          Seq("en", "de", "fr", "es", "zh"), 1.0)))),
    // the fact-to-fact referential gate through the bloom prefilter —
    // screened-out keys are definite orphans (no false negatives), the
    // join only demotes false positives, so the answer is IDENTICAL to
    // dq2's plain-join leg and the oracle replays the plain join
    "dq5_referential_bloom" -> ((s, d) =>
      graft.quality.Checks.referentialBloom(
        Tables(s, d, "lineitem"), "l_orderkey",
        Tables(s, d, "orders"), "o_orderkey", 1.0)),
    // row-level quarantine: the same declared suite routes violating
    // rows with their reason lists — one map-side pass, no shuffle;
    // `error` events and sub-1.0 values route, user_id completeness
    // exercises a passing check. The library API returns the reason
    // LIST; the registered frame publishes it ','-joined (declaration
    // order is deterministic, so the string is information-preserving)
    // because the driver harness canonicalizes results by sorting every
    // column and a top-level array is unsortable there — the r18 red
    // row. ContractSpec pins the no-array/map rule for all registered
    // outputs so the class can't recur.
    "dq6_quarantine" -> ((s, d) =>
      graft.quality.Checks.quarantine(Tables.events(s, d), Seq(
        graft.quality.Checks.completeness("user_id", 1.0),
        graft.quality.Checks.minValue("value", 1.0),
        graft.quality.Checks.inSet("event_type",
          Seq("view", "click", "purchase", "signup"), 1.0)))
        .filter(size(col("failed_checks")) > 0)
        .select(col("event_id"),
          array_join(col("failed_checks"), ",").as("failed_checks"))),
    // cross-column / conditional invariants (Deequ's `satisfies`): the
    // suite still compiles to ONE conditional-aggregate scan — each
    // predicate is just another CASE branch; the row-scoped forms also
    // feed quarantine routing unchanged
    "dq7_conditional_checks" -> ((s, d) =>
      graft.quality.Checks.run(Tables(s, d, "lineitem"), Seq(
        graft.quality.Checks.satisfies("price_positive",
          col("l_extendedprice") > 0, 1.0),
        graft.quality.Checks.satisfies("bulk_is_discounted",
          col("l_quantity") < 40 || col("l_discount") >= 0.02, 0.9),
        graft.quality.Checks.satisfies("tax_capped_when_discounted",
          col("l_discount") === 0 || col("l_tax") <= 0.07, 0.95)))),
    // drift detection (the Deequ anomaly shape): per-DAY metric history
    // over the event log, the latest day judged against the trailing
    // days' mean — the gate a one-snapshot suite cannot express
    "dq4_metric_drift" -> ((s, d) =>
      graft.quality.Checks.driftReport(
        graft.quality.Checks.runByPeriod(Tables.events(s, d),
          to_date(col("ts")), Seq(
            graft.quality.Checks.completeness("value", 1.0),
            graft.quality.Checks.uniqueness("user_id", 1.0),
            graft.quality.Checks.minValue("value", 0.0),
            graft.quality.Checks.maxValue("value", 100.0))),
        maxAbsDelta = 0.02))
  )

  /** Shared ml-family input: document features + the lang='en' label. */
  private def mlFeatures(s: SparkSession, d: String): DataFrame =
    graft.ml.QualityClassifier.featurize(
      Tables(s, d, "documents"), "doc_id", "text", "n_chars",
      col("n_chars") >= 256)

  /** Shared ml-family fit: [[mlFeatures]]' 8-epoch softsign GD behind the
    * persisted [[graft.ml.WeightsIndex]] — the corpus is featurized and
    * scanned once per documents snapshot; ml1–ml3 then read the 1-row
    * artifact (bit-exact through parquet).
    */
  private def mlWeights(s: SparkSession, d: String): (Array[Double], Long) =
    graft.ml.WeightsIndex.ensure(s, d, "documents", "en256", mlFeatures(s, d))

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

  /** DuckDB oracle SQL per query (same parquet tables). Shared determinism
    * rules (SURVEY §5.2): published numerics rounded, total orders pinned on
    * every limit/rank, UTC timestamps, linear-interpolation percentiles
    * (Spark `percentile`/`median` == DuckDB `quantile_cont`/`median`).
    * Queries keyed on xxhash64 signatures are deliberately absent.
    */
  /** [[oracleSql]] with the sf0.01-baked candidate-dump paths (d12/d13/e2
    * replay the verify stage over the dump the Spark query writes) rebased
    * onto `dir`'s dumps. At the driver's contract sf (0.01) this is the
    * identity, so the driver gate sees the exact static strings below; a
    * Verify run at another sf gets oracles that replay ITS OWN candidate
    * set instead of silently joining sf0.01 candidates against that sf's
    * tables — the failure mode that made these three oracles sf-bound.
    */
  def oracleSqlFor(dir: String): Map[String, String] = {
    val contractSf = "/root/testdata/sf0.01"
    val subs = candidateDumpQueries.map(q =>
      candidatesPath(q, contractSf) -> candidatesPath(q, dir))
    oracleSql.map { case (k, v) =>
      k -> subs.foldLeft(v) { case (s, (from, to)) => s.replace(from, to) }
    }
  }

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) *
        |    (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_charge,
        |  round((CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS avg_qty,
        |  round((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS avg_price,
        |  round((CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1000000) / 1000000.0 + 0.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a1_basic_stats" ->
      """SELECT count(*) AS record_count,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts_max,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(median(value),4) AS value_median
        |FROM events""".stripMargin,

    "a2_group_agg" ->
      """SELECT event_type,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "a3_extremes" ->
      """WITH g AS (SELECT event_type, avg(value) AS m FROM events GROUP BY event_type)
        |(SELECT 'highest' AS kind, event_type AS group_key, round(m,4) AS value_mean
        | FROM g ORDER BY m DESC, event_type LIMIT 1)
        |UNION ALL
        |(SELECT 'lowest' AS kind, event_type AS group_key, round(m,4) AS value_mean
        | FROM g ORDER BY m ASC, event_type LIMIT 1)""".stripMargin,

    "a4_daily_agg" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date, event_type,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |    / 10000.0 + 0.0 AS value_mean,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max
        |FROM events GROUP BY CAST(ts AS DATE), event_type""".stripMargin,

    "a5_value_counts" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",

    "a6_mode_per_day" ->
      """SELECT date, mode_value, cnt FROM (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |         event_type AS mode_value, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY CAST(ts AS DATE)
        |                            ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY CAST(ts AS DATE), event_type)
        |WHERE rn = 1""".stripMargin,

    "a7_summary_rounded" ->
      """SELECT l_returnflag,
        |  round(avg(l_quantity),2) AS l_quantity_mean,
        |  round(min(l_quantity),2) AS l_quantity_min,
        |  round(max(l_quantity),2) AS l_quantity_max,
        |  round(avg(l_extendedprice),2) AS l_extendedprice_mean,
        |  round(min(l_extendedprice),2) AS l_extendedprice_min,
        |  round(max(l_extendedprice),2) AS l_extendedprice_max
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a8_percentile_bounds" ->
      """SELECT round(q1,4) AS value_q_lo, round(q3,4) AS value_q_hi,
        |  round(q1 - 1.5*(q3-q1),4) AS value_lb, round(q3 + 1.5*(q3-q1),4) AS value_ub
        |FROM (SELECT quantile_cont(value,0.05) AS q1, quantile_cont(value,0.95) AS q3 FROM events)""".stripMargin,

    "a9_medians" ->
      """SELECT round(median(l_quantity),4) AS l_quantity_median,
        |  round(median(l_extendedprice),4) AS l_extendedprice_median,
        |  round(median(l_discount),4) AS l_discount_median
        |FROM lineitem""".stripMargin,

    "a10_outlier_census" ->
      """WITH b AS (SELECT quantile_cont(value,0.05) AS q1, quantile_cont(value,0.95) AS q3 FROM events),
        |bb AS (SELECT q1 - 1.5*(q3-q1) AS lb, q3 + 1.5*(q3-q1) AS ub FROM b)
        |SELECT outliers, total, round(outliers*1.0/total, 6) AS outlier_rate FROM (
        |  SELECT count(*) FILTER (WHERE value < lb OR value > ub) AS outliers,
        |         count(*) AS total
        |  FROM events, bb)""".stripMargin,

    "a11_distinct_values" ->
      "SELECT DISTINCT event_type FROM events",

    "a12_global_means" ->
      """SELECT count(*) AS record_count,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(min(value),4) AS value_min, round(max(value),4) AS value_max
        |FROM events""".stripMargin,

    "a13_regression" ->
      """SELECT round(regr_slope(l_extendedprice, l_quantity),6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity),6) AS intercept,
        |  round(corr(l_extendedprice, l_quantity),6) AS correlation,
        |  count(*) AS n
        |FROM lineitem""".stripMargin,

    "a14_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_suppliers, count(*) AS n_rows
        |FROM lineitem""".stripMargin,

    "a16_rollup" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS l_linestatus,
        |  round(sum(l_quantity),2) AS value_sum, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "a18_cube" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS l_linestatus,
        |  round(sum(l_quantity),2) AS value_sum, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "a20_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(event_id) AS n_nulls, count(DISTINCT event_id) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_value, CAST(max(event_id) AS VARCHAR) AS max_value
        |FROM events
        |UNION ALL SELECT 'ts', count(*), count(*) - count(ts), count(DISTINCT ts),
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S'), strftime(max(ts), '%Y-%m-%d %H:%M:%S') FROM events
        |UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
        |UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type),
        |  min(event_type), max(event_type) FROM events
        |UNION ALL SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value),
        |  CAST(CAST(round(min(value), 4) AS DECIMAL(28,4)) AS VARCHAR),
        |  CAST(CAST(round(max(value), 4) AS DECIMAL(28,4)) AS VARCHAR) FROM events
        |UNION ALL SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props),
        |  min(props), max(props) FROM events""".stripMargin,

    // Direct full-table aggregation: the Spark side computes the same
    // result via corpus/batch partial states + merge, so a hash match
    // proves the incremental-view decomposition exact.
    "a21_incremental_agg" ->
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |  count(value) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS value_sum,
        |  round(min(value), 4) AS value_min, round(max(value), 4) AS value_max,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |    / 10000.0 + 0.0 AS value_mean
        |FROM events GROUP BY event_type, CAST(ts AS DATE)""".stripMargin,

    "o3_set_ops" ->
      """WITH c96 AS (SELECT DISTINCT o_custkey FROM orders
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
        |ORDER BY kind""".stripMargin,

    // lang CASE = t2's proven twin; quality expr = t3's proven twin;
    // ranks via row_number under (quality desc, doc_id) — the heap agg
    // must reproduce them exactly
    "o4_top_docs_per_lang" ->
      """WITH t AS (SELECT doc_id, text,
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
        |WHERE rn <= 3""".stripMargin,

    "a19_grouped_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "a17_salted_agg" ->
      """SELECT event_type,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS value_sum,
        |  count(*) AS n,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS value_mean
        |FROM events GROUP BY event_type""".stripMargin,

    "w5_rolling_avg" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, avg(value) AS v,
        |    round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |      / 10000.0 + 0.0 AS vm
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT strftime(d, '%Y-%m-%d') AS date, event_type,
        |  vm AS value_mean,
        |  round(avg(v) OVER (PARTITION BY event_type ORDER BY d
        |                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS rolling_mean
        |FROM daily""".stripMargin,

    "j5_brand_revenue" ->
      """SELECT p_brand,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
        |  round(sum(l_quantity),2) AS qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "f7_json_extract" ->
      """SELECT event_type,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)),4) AS k_mean,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "w1_trend_analysis" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, avg(value) AS v
        |               FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |chg AS (SELECT event_type,
        |          CAST(v - lag(v) OVER (PARTITION BY event_type ORDER BY d) AS DECIMAL(18,6)) AS chg
        |        FROM daily)
        |SELECT event_type,
        |  round((CAST(sum(chg) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS avg_daily_change,
        |  round(CAST(max(chg) AS DOUBLE),4) AS max_increase,
        |  round(CAST(min(chg) AS DOUBLE),4) AS max_decrease,
        |  CASE WHEN sum(chg) > 0 THEN 'warming' ELSE 'cooling' END AS overall_trend
        |FROM chg WHERE chg IS NOT NULL GROUP BY event_type""".stripMargin,

    "w3_pivot_daily" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |    / 10000.0 + 0.0 AS vm
        |  FROM events GROUP BY CAST(ts AS DATE), event_type)
        |SELECT strftime(d, '%Y-%m-%d') AS date,
        |  max(vm) FILTER (WHERE event_type = 'click') AS click,
        |  max(vm) FILTER (WHERE event_type = 'error') AS error,
        |  max(vm) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  max(vm) FILTER (WHERE event_type = 'signup') AS signup,
        |  max(vm) FILTER (WHERE event_type = 'view') AS view
        |FROM daily GROUP BY d""".stripMargin,

    "w4_multiday_groups" ->
      """SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events GROUP BY event_type HAVING count(DISTINCT CAST(ts AS DATE)) > 1""".stripMargin,

    "w6_asof_join" ->
      """SELECT l.event_id, l.user_id,
        |  round(r.value, 4) AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "w12_active_users" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, count(DISTINCT u) AS dau FROM ud GROUP BY day),
        |con AS (SELECT u, unnest(range(0, 7)) AS o, day FROM ud),
        |wau AS (SELECT CAST(con.day + CAST(con.o AS INT) AS DATE) AS day,
        |          count(DISTINCT con.u) AS wau
        |        FROM con JOIN days ON days.day = con.day + CAST(con.o AS INT)
        |        GROUP BY 1)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS date,
        |  CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(wau.wau AS BIGINT) AS active_7d
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,

    "w13_rolling_zscore" ->
      """WITH t AS (SELECT event_id, event_type, ts, value,
        |    count(value) OVER w AS n,
        |    sum(CAST(value AS DECIMAL(18,6))) OVER w AS s,
        |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_id, event_type, ts, value,
        |    CASE WHEN n >= 5 AND
        |      CAST(s2 AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
        |    THEN round((value - CAST(s AS DOUBLE) / n) /
        |      sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)), 4)
        |    END AS z
        |  FROM t)
        |SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  value, z, abs(z) > 2.0 AS is_anomaly
        |FROM z""".stripMargin,

    "w11_asof_tolerance" ->
      """SELECT l.event_id, l.user_id,
        |  CASE WHEN CAST(floor(epoch(l.ts)) AS BIGINT) -
        |            CAST(floor(epoch(r.ts)) AS BIGINT) <= 3600
        |       THEN round(r.value, 4) END AS purchase_within_1h
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // The oracle replays the funnel as explicit n-stage chain joins
    // (exists a signup->view->click->purchase chain with every
    // consecutive gap in [0, 6 h]) — exactly the formulation the
    // single-pass latest-achievable fold must reproduce, and exactly the
    // join explosion it exists to avoid at scale.
    "w14_funnel" ->
      """WITH s AS (SELECT user_id, ts, event_type FROM events
        |           WHERE event_type IN ('signup','view','click','purchase')),
        |c1 AS (SELECT DISTINCT user_id FROM s WHERE event_type = 'signup'),
        |c2 AS (SELECT DISTINCT a.user_id
        |       FROM s a JOIN s b ON b.user_id = a.user_id
        |       WHERE a.event_type = 'signup' AND b.event_type = 'view'
        |         AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 21600000000),
        |c3 AS (SELECT DISTINCT a.user_id
        |       FROM s a JOIN s b ON b.user_id = a.user_id
        |                JOIN s c ON c.user_id = a.user_id
        |       WHERE a.event_type = 'signup' AND b.event_type = 'view'
        |         AND c.event_type = 'click'
        |         AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 21600000000
        |         AND epoch_us(c.ts) - epoch_us(b.ts) BETWEEN 0 AND 21600000000),
        |c4 AS (SELECT DISTINCT a.user_id
        |       FROM s a JOIN s b ON b.user_id = a.user_id
        |                JOIN s c ON c.user_id = a.user_id
        |                JOIN s p ON p.user_id = a.user_id
        |       WHERE a.event_type = 'signup' AND b.event_type = 'view'
        |         AND c.event_type = 'click' AND p.event_type = 'purchase'
        |         AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 21600000000
        |         AND epoch_us(c.ts) - epoch_us(b.ts) BETWEEN 0 AND 21600000000
        |         AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 21600000000),
        |n AS (SELECT (SELECT count(*) FROM c1) AS n1, (SELECT count(*) FROM c2) AS n2,
        |             (SELECT count(*) FROM c3) AS n3, (SELECT count(*) FROM c4) AS n4)
        |SELECT 'signup' AS stage, 1 AS stage_idx, n1 AS n_keys,
        |       CAST(1.0 AS DOUBLE) AS pct_of_prev FROM n
        |UNION ALL SELECT 'view', 2, n2,
        |  CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1 * 10000) / 10000.0 + 0.0 END FROM n
        |UNION ALL SELECT 'click', 3, n3,
        |  CASE WHEN n2 > 0 THEN round(CAST(n3 AS DOUBLE) / n2 * 10000) / 10000.0 + 0.0 END FROM n
        |UNION ALL SELECT 'purchase', 4, n4,
        |  CASE WHEN n3 > 0 THEN round(CAST(n4 AS DOUBLE) / n3 * 10000) / 10000.0 + 0.0 END FROM n""".stripMargin,

    "w15_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |            FROM events WHERE event_type = 'purchase'),
        |co AS (SELECT u, min(day) AS cohort FROM ud GROUP BY u),
        |j AS (SELECT ud.u, ud.day, co.cohort FROM ud JOIN co ON ud.u = co.u)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
        |  count(DISTINCT CASE WHEN day = cohort THEN u END) AS n_keys,
        |  count(DISTINCT CASE WHEN day = cohort + 1 THEN u END) AS retained_d1,
        |  count(DISTINCT CASE WHEN day = cohort + 7 THEN u END) AS retained_d7,
        |  count(DISTINCT CASE WHEN day = cohort + 14 THEN u END) AS retained_d14,
        |  round(CAST(count(DISTINCT CASE WHEN day = cohort + 1 THEN u END) AS DOUBLE)
        |    / count(DISTINCT CASE WHEN day = cohort THEN u END) * 10000) / 10000.0 + 0.0 AS rate_d1,
        |  round(CAST(count(DISTINCT CASE WHEN day = cohort + 7 THEN u END) AS DOUBLE)
        |    / count(DISTINCT CASE WHEN day = cohort THEN u END) * 10000) / 10000.0 + 0.0 AS rate_d7,
        |  round(CAST(count(DISTINCT CASE WHEN day = cohort + 14 THEN u END) AS DOUBLE)
        |    / count(DISTINCT CASE WHEN day = cohort THEN u END) * 10000) / 10000.0 + 0.0 AS rate_d14
        |FROM j GROUP BY cohort""".stripMargin,

    "w16_gap_fill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |      / 10000.0 + 0.0 AS vm
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |spine AS (SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |                                INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)),
        |f AS (SELECT s.user_id, s.day, d.vm
        |      FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS date,
        |  last_value(vm IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_mean,
        |  vm IS NULL AS is_filled
        |FROM f""".stripMargin,

    // run starts via null-safe lag comparison (rn = 1 keeps a first row
    // whose value is null), intervals via lead over the starts
    "w17_scd2_intervals" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM starts""".stripMargin,

    // the engine folds two time-split batches through scd2ApplyBatch;
    // the oracle is the ONE-SHOT interval pass over the full log — the
    // match proves batch-wise folding loses nothing
    "w18_scd2_incremental" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM starts""".stripMargin,

    // w19: the engine folds THREE (day, event_id)-split batches through
    // scd2ApplyBatchFrontier with mid-day cuts (same-ts changes straddle
    // both); the oracle is the one-shot pass over the DAY-truncated log
    "w19_scd2_frontier" ->
      """WITH log AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type, event_id
        |  FROM events),
        |o AS (SELECT user_id, event_type, day, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM log
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day, event_id)),
        |starts AS (SELECT user_id, event_type, day, event_id FROM o
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, day AS valid_from,
        |  lead(day) OVER (PARTITION BY user_id ORDER BY day, event_id) AS valid_to
        |FROM starts""".stripMargin,

    "w9_range_rolling" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  count(*) OVER w AS n_window,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS window_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "o1_topk_per_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |       CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3""".stripMargin,

    "w7_rank_ntile" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |      / 10000.0 + 0.0 AS vm
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT strftime(d, '%Y-%m-%d') AS date, event_type, vm AS value_mean,
        |  CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY vm DESC, d) AS BIGINT) AS rnk,
        |  CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY vm DESC, d) AS BIGINT) AS quartile
        |FROM daily""".stripMargin,

    "w8_sessionize" -> sessionSql,
    // w20: the engine folds a time-split batch through the session
    // frontier state; the oracle is w8's ONE-SHOT sessionization — the
    // hash match IS the fold == one-shot contract
    "w20_sessions_incremental" -> sessionSql,
    // w21: the same one-shot contract through two persisted epoch seams
    "w21_sessions_epochs" -> sessionSql,

    // The oracle replays w10 as the NAIVE unkeyed BETWEEN join — fine at
    // oracle scale, and exactly the semantics the decomposed Spark plan
    // must reproduce. Inner join is safe: every session contains its own
    // first event, so no session can have zero overlaps.
    "w10_interval_join" ->
      """WITH t AS (SELECT user_id, ts,
        |  CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) -
        |            CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
        |       > 1440*60 THEN 1 ELSE 0 END AS nw
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM t),
        |sess AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
        |         FROM s GROUP BY user_id, session_id)
        |SELECT sess.user_id, sess.session_id,
        |  strftime(sess.st, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(sess.en, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_overlap
        |FROM sess JOIN events e ON e.ts >= sess.st AND e.ts <= sess.en
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "o2_global_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, round(sum(l_quantity),2) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_custkey
        |HAVING round(sum(l_quantity),2) > 150
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    // deliberately the q18 SQL verbatim: the bucketed mirror is a LAYOUT
    // change only, so the oracle proves it alters no row anywhere
    "j7_bucketed_large_orders" ->
      """SELECT o_orderkey, o_custkey, round(sum(l_quantity),2) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_custkey
        |HAVING round(sum(l_quantity),2) > 150
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    // verbatim q21 SQL: the bucketed layout must be content-invisible
    "j9_bucketed_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    // verbatim q3 SQL: the bucketed layout must be content-invisible
    "j8_bucketed_shipping_priority" ->
      """SELECT l_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    // verbatim q10 SQL: the bucketed layout must be content-invisible
    "j10_bucketed_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // Plain semi-join: the Bloom pre-prune must be result-invisible.
    "j11_bloom_prune_semi" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,

    "q20_red_part_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'))""".stripMargin,

    "q22_wealthy_segments" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |GROUP BY c_mktsegment""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q16_part_suppliers" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 15
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_suppkey = l_suppkey
        |                    AND s_name LIKE '%Supplier#00000001%')
        |GROUP BY p_brand, p_size""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q17_small_quantity" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    / 7.0 * 100) / 100.0 + 0.0 AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q4_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,

    "q12_shipmode_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.05
        |  AND l_quantity < 24""".stripMargin,

    "q5_local_volume" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(
        |    CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE)
        |    * 1000000) / 1000000.0 + 0.0 AS mkt_share,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |GROUP BY year(o_orderdate)""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |    (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS profit,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,

    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q11_important_parts" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS value
        |  FROM lineitem GROUP BY l_partkey),
        |g AS (SELECT sum(value) AS total, count(*) AS nparts FROM v)
        |SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS part_value
        |FROM v, g
        |WHERE CAST(value AS DOUBLE) > CAST(total AS DOUBLE) * 1.2 / nparts
        |ORDER BY part_value DESC, l_partkey""".stripMargin,

    "q2_min_cost_supplier" ->
      """SELECT DISTINCT p_partkey, s_suppkey, s_name,
        |  round(l_extendedprice,2) AS min_price
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size = 5
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
        |                         WHERE l2.l_partkey = p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    "j1_broadcast_join" ->
      """SELECT r_name,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "j2_sortmerge_join" ->
      """SELECT o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "j3_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "j4_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "j6_supplier_revenue" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "c1_two_pass_clean" ->
      """WITH b AS (SELECT quantile_cont(value,0.05) AS q1, quantile_cont(value,0.95) AS q3 FROM events),
        |bb AS (SELECT q1 - 1.5*(q3-q1) AS lb, q3 + 1.5*(q3-q1) AS ub FROM b),
        |nulled AS (SELECT event_type,
        |             CASE WHEN value < lb OR value > ub THEN NULL ELSE value END AS v
        |           FROM events, bb),
        |m AS (SELECT median(v) AS med FROM nulled),
        |clean AS (SELECT event_type, coalesce(v, med) AS v FROM nulled, m)
        |SELECT event_type,
        |  round((CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(v)) * 10000) / 10000.0 + 0.0 AS value_mean,
        |  round(min(v),4) AS value_min,
        |  round(max(v),4) AS value_max, count(*) AS n
        |FROM clean GROUP BY event_type""".stripMargin,

    "f1_unit_conversions" ->
      """SELECT event_id, value,
        |  round(value*9.0/5.0 + 32.0, 4) AS fahrenheit,
        |  round(((value*9.0/5.0 + 32.0) - 32.0)*5.0/9.0, 4) AS roundtrip
        |FROM events""".stripMargin,

    "f4_date_range" ->
      """SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 DAY)), '%Y-%m-%d') AS d
        |FROM (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |             CAST(max(o_orderdate) AS DATE) AS hi FROM orders)""".stripMargin,

    "f5_map_lookup" ->
      """SELECT event_type,
        |  CASE WHEN event_type = 'click' THEN 'engagement'
        |       WHEN event_type = 'view' THEN 'engagement'
        |       WHEN event_type = 'purchase' THEN 'conversion'
        |       WHEN event_type = 'signup' THEN 'conversion'
        |       ELSE 'other' END AS label,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type, label""".stripMargin,

    "f6_time_features" ->
      """SELECT event_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
        |  CAST(hour(ts) AS BIGINT) AS hour, dayname(ts) AS day_of_week
        |FROM events""".stripMargin,

    "t1_doc_stats" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |  FROM documents)
        |SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        |  round(list_sum(list_transform(tok, x -> len(x)))*1.0/nullif(len(tok),0), 4) AS avg_token_len,
        |  round(len(list_filter(tok, x -> x IN ('the','and','of','to','is','a','in','it')))*1.0/nullif(len(tok),0), 4) AS stopword_ratio,
        |  round(len(list_distinct(tok))*1.0/nullif(len(tok),0), 4) AS type_token_ratio
        |FROM t""".stripMargin,

    "t2_lang_id" ->
      """WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
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
        |FROM s GROUP BY predicted_lang""".stripMargin,

    "t3_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tok
        |  FROM documents)
        |SELECT doc_id, round(
        |  least(len(tok)/100.0, 1.0)*0.4 +
        |  coalesce(len(list_distinct(tok))*1.0/nullif(len(tok),0), 0.0)*0.4 +
        |  (1.0 - least(coalesce(
        |     len(regexp_replace(text, '[^[:punct:]]', '', 'g'))*1.0 /
        |     nullif(len(regexp_replace(text, '\s', '', 'g')), 0), 0.0)*5.0, 1.0))*0.2,
        |  6) AS quality
        |FROM t""".stripMargin,

    "t4_subword_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^\s[:punct:]]+|[[:punct:]]')) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin,

    "t8_vocabulary" ->
      """SELECT token, count(*) AS occurrences FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY occurrences DESC, token LIMIT 50""".stripMargin,

    "t9_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, tf, round(tf * ln((n+1.0)/(df+1.0)), 6) AS tfidf
        |FROM tf JOIN dfreq USING (token), nn
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY tf * ln((n+1.0)/(df+1.0)) DESC, token) <= 3""".stripMargin,

    "q14_promo_share" ->
      """SELECT round(
        |  sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice*(1-l_discount) ELSE 0.0 END) * 100.0 /
        |  sum(l_extendedprice*(1-l_discount)), 4) AS promo_share,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'""".stripMargin,

    // Winnowing selection replay over t7's own per-position hash dump:
    // window starts s ∈ [0, max(1, n-w+1)) over window [s, min(s+w, n)),
    // rightmost minimum per window (max pos among h = window min — the
    // native loop's `<=` scan), distinct selected hashes per doc. w = 4.
    // Docs shorter than k never enter the dump → LEFT JOIN, count 0.
    "t7_winnow" ->
      s"""WITH p AS (SELECT doc_id, pos, h
        |  FROM '${candidatesPath("t7", "/root/testdata/sf0.01")}/*.parquet'),
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
        |FROM documents d LEFT JOIN f USING (doc_id)""".stripMargin,

    "t25_sequence_pack" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
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
        |FROM c""".stripMargin,

    // t24 replay: identical windowing (w = 8, md5-keyed), identical
    // island rule (starts <= prev + 8 chain; union len = max-min+8).
    "t24_dup_spans" ->
      """WITH tok AS (SELECT doc_id,
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
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "t23_bigram_logprob" ->
      """WITH tok AS (SELECT doc_id,
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
        |FROM s GROUP BY doc_id""".stripMargin,

    // Exact φ-heavy-hitter replay: same 3-gram occurrence stream (t12's
    // tokenize convention, duplicates kept), same integral threshold
    // arithmetic — the sketch pass must be invisible in the result.
    "t22_heavy_ngrams" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(t)-3+2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS item
        |  FROM tok WHERE len(t) >= 3),
        |th AS (SELECT greatest(1, ((count(*) - 1) // 5000) + 1) AS th FROM g)
        |SELECT g.item, count(*) AS cnt FROM g, th
        |GROUP BY g.item, th.th HAVING count(*) >= th.th""".stripMargin,

    "t6_char_shingles" ->
      """SELECT doc_id, CAST(CASE WHEN len(text) < 5 THEN 0 ELSE
        |  len(list_distinct(list_transform(range(1, len(text)-5+2), i -> substr(text, i, 5))))
        |  END AS BIGINT) AS n_shingles
        |FROM documents""".stripMargin,

    "t12_repetition" ->
      """WITH tok AS (SELECT doc_id,
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
        |FROM c GROUP BY doc_id""".stripMargin,

    // t19: the same distinct-shingle recipe as d13's oracle (5-gram), a
    // hot set of shingles in >= 2 distinct docs, and a per-doc rollup of
    // how much of the doc is corpus-duplicated span.
    "t19_crossdoc_shingles" ->
      """WITH sh AS (SELECT doc_id,
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
        |GROUP BY ex.doc_id""".stripMargin,

    // t20: t17's decimal-stable mean recipe over the smoothed
    // target-vs-corpus log-ratio; ct left-joined (target-unseen tokens
    // count 0), scalar totals cross-joined.
    "t20_dsir_weights" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
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
        |FROM s GROUP BY doc_id""".stripMargin,

    // t21: t20's weight CTE + the d8 md5-bucket recipe as deterministic
    // Gumbel noise; ORDER BY the raw key (id tie-break) LIMIT k, key
    // published rounded.
    "t21_dsir_resample" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
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
        |FROM keyed ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    // t26: the t23 bigram construction + the t21 md5-bucket recipe +
    // the t20 smoothing skeleton, on the fixed 10k-bucket domain
    "t26_dsir_hashed" ->
      """WITH tok AS (SELECT doc_id, source,
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
        |FROM s GROUP BY doc_id""".stripMargin,

    "t10_decontaminate" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(spark|query)\b')) AS BIGINT) AS n_hits,
        |  CAST(len(regexp_replace(text, '\b(spark|query)\b', '[REDACTED]', 'g')) AS BIGINT) AS n_clean_chars
        |FROM documents""".stripMargin,

    "t11_chunk_plan" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source, doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin,

    "t17_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) AS t FROM cnt),
        |s AS (SELECT doc_id, ln(c * 1.0 / t) AS lp FROM tok JOIN cnt USING (token) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(lp AS DECIMAL(20,10))) AS DOUBLE) / count(*) * 10000) / 10000.0 + 0.0 AS avg_logprob
        |FROM s GROUP BY doc_id""".stripMargin,

    "t16_chunk_overlap" ->
      """WITH t AS (SELECT doc_id,
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
        |FROM e""".stripMargin,

    "t13_pii_scrub" ->
      """WITH dirty AS (SELECT doc_id,
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
        |FROM dirty""".stripMargin,

    "t15_domain_census" ->
      """WITH dirty AS (SELECT doc_id,
        |  text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '.example.org/path?q=1 and more' AS t
        |  FROM documents)
        |SELECT d AS domain, count(*) AS n
        |FROM (SELECT unnest(regexp_extract_all(t, 'https?://([^\s/?#]+)', 1)) AS d
        |      FROM dirty)
        |GROUP BY d ORDER BY n DESC, d""".stripMargin,

    "t14_c4_lines" ->
      """WITH dirty AS (SELECT doc_id,
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
        |FROM k""".stripMargin,

    "d7_hash_split" ->
      """WITH b AS (SELECT source,
        |    CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM b GROUP BY source, split""".stripMargin,

    "d8_source_mix" ->
      """WITH b AS (SELECT source,
        |    CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 1000000 AS bucket
        |  FROM documents)
        |SELECT source, count(*) AS n FROM b
        |WHERE bucket < (CASE source WHEN 'src0' THEN 500000
        |                            WHEN 'src1' THEN 100000
        |                            ELSE 1000000 END)
        |GROUP BY source""".stripMargin,

    "d1_exact_dup_stats" ->
      """SELECT count(*) AS total_docs, count(DISTINCT text) AS distinct_docs,
        |  count(*) - count(DISTINCT text) AS dup_docs
        |FROM documents""".stripMargin,

    "d10_interleave" ->
      """WITH ranked AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |SELECT CAST((rn - 1) * 20 + CAST(substr(source, 4, 8) AS INT) AS BIGINT) AS pos,
        |  source, doc_id
        |FROM ranked ORDER BY pos LIMIT 100""".stripMargin,

    "d11_epoch_shuffle" ->
      """SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 4
        |    ORDER BY CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT),
        |      doc_id) AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    "d9_source_cap" ->
      """WITH ranked AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, min(doc_id) AS min_kept_id
        |FROM ranked WHERE rn <= 15 GROUP BY source""".stripMargin,

    "d2_exact_dedup" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin,

    "d6_curation_funnel" ->
      """WITH t AS (SELECT doc_id, text, source,
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
        |FROM deduped GROUP BY source""".stripMargin,

    "d5_jaccard_pairs" ->
      """WITH sh AS (SELECT doc_id,
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
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,

    // replays the verify stage over the candidate set d13's Spark run
    // materialized (absolute path; the driver's correctness gate runs at
    // sf0.01 — see candidatesPath). Shingling + Jaccard are the d5
    // expressions verbatim; the threshold filters the ROUNDED value,
    // exactly as the Spark side does.
    "d13_lsh_verified_pairs" -> dumpVerifySql("d13"),

    // same replay over d19's SimHash (chunk-blocked, hamming-verified)
    // candidate dump — the verify stage is identical by design, only the
    // candidate generator differs
    "d19_simhash_verified_pairs" -> dumpVerifySql("d19"),

    // the CLUSTERING stage, oracled end-to-end: d12's input pairs are
    // exactly the d13 verified set (minhashNearDups ≡ candidates →
    // Jaccard ≥ τ on the rounded value), so connected components over
    // them is pure SQL — a recursive transitive closure with UNION set
    // semantics (components are near-dup clusters, a handful of docs, so
    // the closure is tiny) and the min reachable id as each node's
    // label, which is precisely dupClusters' fixpoint. The distributed
    // label-propagation + pointer-jumping implementation is thereby
    // hash-checked against an independent sequential formulation.
    "d12_dup_clusters" ->
      (dumpClosureCtes("d13") +
        "\nSELECT id, min(r) AS label FROM reach GROUP BY id"),

    // replays the verify stage over d15's new×corpus candidate dump,
    // exactly the d13 pattern (shingling + Jaccard verbatim; threshold
    // on the rounded value).
    "d15_incremental_neardups" -> dumpVerifySql("d15"),

    // the d15 verify replay over d16's (indexed-probe) candidate dump.
    "d16_incremental_indexed" -> dumpVerifySql("d16"),

    // incremental exact dedup: md5 is engine-portable, so the WHOLE
    // operator (not just a verify stage) replays in SQL — the batch's
    // content addresses anti-joined against the standing corpus's.
    // NOT IN is null-safe here (md5 of a non-null text is never null).
    "d17_incremental_exact" ->
      """SELECT doc_id, md5(text) AS content_md5
        |FROM documents WHERE doc_id % 10 = 0
        |  AND md5(text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)""".stripMargin,

    // identical result through the persisted ledger — same oracle text.
    "d18_incremental_exact_indexed" ->
      """SELECT doc_id, md5(text) AS content_md5
        |FROM documents WHERE doc_id % 10 = 0
        |  AND md5(text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)""".stripMargin,

    // d12's closure applied back to the corpus as the keep rule: a doc
    // survives when it never entered a verified pair (label missing) or
    // it IS its cluster's min id. Same verify + closure text as d12, over
    // d14's OWN dump, one more select on top.
    "d14_fuzzy_survivors" ->
      (dumpClosureCtes("d14") +
        """,
          |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
          |SELECT d.doc_id,
          |  CASE WHEN lab.label IS NULL THEN 'unique' ELSE 'canonical' END AS kind
          |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
          |WHERE lab.label IS NULL OR lab.label = d.doc_id""".stripMargin),

    // replays the embedding verify stage over e2's dumped candidate set:
    // exact cosine in double (list_cosine_similarity on float→double
    // casts — the same comparison the s1 oracle hash-matches), rounded
    // to 4 decimals, thresholded on the ROUNDED value like the Spark side.
    "e2_embedding_verified_pairs" ->
      s"""WITH c AS (SELECT id1, id2
        |  FROM '${e2CandidatesPath("/root/testdata/sf0.01")}/*.parquet'),
        |e AS (SELECT vec_id,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings)
        |SELECT c.id1, c.id2,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.2""".stripMargin,

    // e3's OWN dumped candidates → cosine verify → recursive closure →
    // the keep rule, applied to the embeddings corpus (the e-path twin
    // of d14's oracle).
    "e3_semantic_survivors" ->
      s"""WITH RECURSIVE c AS (SELECT id1, id2
        |  FROM '${candidatesPath("e3", "/root/testdata/sf0.01")}/*.parquet'),
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
        |WHERE lab.label IS NULL OR lab.label = em.vec_id""".stripMargin,

    "m1_resize_plan" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
        |    CAST(200 + doc_id % 1600 AS INT) AS width,
        |    CAST(100 + doc_id % 900 AS INT) AS height
        |  FROM documents)
        |SELECT media_id, width, height,
        |  CAST(round(width * least(512.0/greatest(width, height), 1.0)) AS INT) AS target_width,
        |  CAST(round(height * least(512.0/greatest(width, height), 1.0)) AS INT) AS target_height
        |FROM m WHERE kind = 'image'""".stripMargin,

    "m2_frame_plan" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
        |    CAST((doc_id % 60 + 1) * 1000 AS BIGINT) AS duration_ms
        |  FROM documents)
        |SELECT media_id, i AS frame_idx,
        |  CAST(floor(duration_ms * i / 4.0) AS BIGINT) AS frame_ms
        |FROM m, range(0, 4) t(i)
        |WHERE kind = 'video'""".stripMargin,

    "m3_audio_windows" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
        |    CAST(16000 AS INT) AS sample_rate,
        |    CAST((doc_id % 60 + 1) * 1000 AS BIGINT) AS duration_ms
        |  FROM documents)
        |SELECT media_id, sample_rate, duration_ms,
        |  CAST(ceil(duration_ms / 5000.0) AS BIGINT) AS n_windows,
        |  CAST(duration_ms * sample_rate / 1000 AS BIGINT) AS n_samples
        |FROM m WHERE kind = 'audio'""".stripMargin,

    // the synthetic media table's bytes are the document text as binary,
    // so md5 over the blob == md5 over the text's UTF-8 bytes in any
    // engine; strlen(varchar) is DuckDB's byte length (= Spark
    // length(binary))
    "m4_blob_dedup" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies, CAST(min(strlen(text)) AS BIGINT) AS n_bytes
        |FROM documents
        |GROUP BY md5(text)""".stripMargin,

    // REAL-codec oracles (m5/m6/m7): the Spark side publishes values read
    // out of decoded bytes (ImageIO / javax.sound round trips); these
    // replay the deterministic generative formulas (MediaCodec: two-tone
    // dims/colors, square-wave amp/length) in plain arithmetic. A hash
    // match is therefore evidence the CODEC path works — the only way the
    // engines agree is if encode→decode faithfully round-tripped every
    // pixel and PCM frame.
    "m5_image_decode" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |  16 + doc_id % 48 AS w, 16 + (doc_id // 3) % 32 AS h,
        |  (doc_id * 37) % 256 AS ra, (doc_id * 59 + 11) % 256 AS ga, (doc_id * 83 + 7) % 256 AS ba,
        |  (doc_id * 101 + 3) % 256 AS rb, (doc_id * 131 + 29) % 256 AS gb, (doc_id * 151 + 101) % 256 AS bb
        |  FROM documents)
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(h * ((w // 2) * ra + (w - w // 2) * rb) AS BIGINT) AS sum_r,
        |  CAST(h * ((w // 2) * ga + (w - w // 2) * gb) AS BIGINT) AS sum_g,
        |  CAST(h * ((w // 2) * ba + (w - w // 2) * bb) AS BIGINT) AS sum_b
        |FROM g""".stripMargin,

    // resize dims mirror MediaCodec.resizeDims exactly: scale = 24.0 /
    // max(w,h) in IEEE double, floor(dim * scale), 1px floor, no
    // upscale. Corners: output (0,0) samples source column 0 (color A);
    // output (nw-1,0) samples source column (nw-1)*w//nw >= w//2 (color
    // B) — the nearest-neighbor mapping in MediaCodec.resizePng.
    "m6_image_resize" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |  16 + doc_id % 48 AS w, 16 + (doc_id // 3) % 32 AS h,
        |  (doc_id * 37) % 256 AS ra, (doc_id * 59 + 11) % 256 AS ga, (doc_id * 83 + 7) % 256 AS ba,
        |  (doc_id * 101 + 3) % 256 AS rb, (doc_id * 131 + 29) % 256 AS gb, (doc_id * 151 + 101) % 256 AS bb
        |  FROM documents),
        |r AS (SELECT *, CAST(CASE WHEN w <= 24 AND h <= 24 THEN w
        |        ELSE greatest(1, CAST(floor(w * (24.0 / greatest(w, h))) AS INT)) END AS INT) AS nw,
        |      CAST(CASE WHEN w <= 24 AND h <= 24 THEN h
        |        ELSE greatest(1, CAST(floor(h * (24.0 / greatest(w, h))) AS INT)) END AS INT) AS nh
        |      FROM g)
        |SELECT media_id, nw AS out_width, nh AS out_height,
        |  CAST(ra * 65536 + ga * 256 + ba AS INT) AS left_rgb,
        |  CAST(rb * 65536 + gb * 256 + bb AS INT) AS right_rgb
        |FROM r""".stripMargin,

    // decoded-content dedup: groups are exactly the content seeds
    // (doc_id % 397) — distinct seeds always differ in at least width
    // (see Multimodal.syntheticDupImageTable), so if the engine's
    // pixel-digest grouping matches this replay, the codec collapsed
    // the two byte-stream variants of every seed into one content
    "m8_image_content_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |  CAST(16 + (doc_id % 397) % 48 AS INT) AS width
        |FROM documents
        |GROUP BY doc_id % 397""".stripMargin,

    // JPEG dims survive the lossy round trip exactly — same generative
    // dims as m5
    "m11_jpeg_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 48 AS INT) AS width,
        |  CAST(16 + (doc_id // 3) % 32 AS INT) AS height
        |FROM documents""".stripMargin,

    // per-frame channel means replayed from the generative formulas
    // (solid frames: mean == color exactly); frame counts 2..5
    "m15_gif_frames" ->
      """WITH g AS (SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents)
        |SELECT media_id, CAST(i - 1 AS INT) AS frame_idx,
        |  CAST((media_id * 43 + (i - 1) * 17 + 5) % 256 AS INT) AS mean_r,
        |  CAST((media_id * 67 + (i - 1) * 29 + 11) % 256 AS INT) AS mean_g,
        |  CAST((media_id * 89 + (i - 1) * 41 + 23) % 256 AS INT) AS mean_b
        |FROM g, range(1, 6) t(i) WHERE i <= nf""".stripMargin,

    // sampled frame index floor(nf*i/4) for i in 0..3, colors from the
    // same formulas
    "m16_gif_frame_sample" ->
      """WITH g AS (SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents),
        |s AS (SELECT media_id, nf, CAST(i - 1 AS INT) AS sample_idx,
        |        CAST((nf * (i - 1)) // 4 AS INT) AS frame_idx
        |      FROM g, range(1, 5) t(i))
        |SELECT media_id, sample_idx, frame_idx,
        |  CAST((media_id * 43 + frame_idx * 17 + 5) % 256 AS INT) AS mean_r,
        |  CAST((media_id * 67 + frame_idx * 29 + 11) % 256 AS INT) AS mean_g,
        |  CAST((media_id * 89 + frame_idx * 41 + 23) % 256 AS INT) AS mean_b
        |FROM s""".stripMargin,

    // n = 8 > every nf (2..5): sample slot i maps to frame floor(nf*i/8),
    // so duplicate frame indices appear for every asset — the oracle
    // replays the duplicate-emitting branch exactly
    "m16b_gif_frame_sample_wide" ->
      """WITH g AS (SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents),
        |s AS (SELECT media_id, nf, CAST(i - 1 AS INT) AS sample_idx,
        |        CAST((nf * (i - 1)) // 8 AS INT) AS frame_idx
        |      FROM g, range(1, 9) t(i))
        |SELECT media_id, sample_idx, frame_idx,
        |  CAST((media_id * 43 + frame_idx * 17 + 5) % 256 AS INT) AS mean_r,
        |  CAST((media_id * 67 + frame_idx * 29 + 11) % 256 AS INT) AS mean_g,
        |  CAST((media_id * 89 + frame_idx * 41 + 23) % 256 AS INT) AS mean_b
        |FROM s""".stripMargin,

    // the average-hash bits recomputed arithmetically (ahashCte) — a
    // match proves the decode→grid-mean→threshold pipeline end-to-end
    "m13_image_ahash" ->
      s"WITH $ahashCte SELECT media_id, ahash_hi, ahash_lo FROM h",

    // brute-force hamming over the formula hashes — the engine's
    // chunk-blocked plan must find the identical pair set
    "m14_image_perceptual_neardups" ->
      s"""WITH $ahashCte
         |SELECT a.media_id AS id1, b.media_id AS id2,
         |  CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |       bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |      bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 3""".stripMargin,

    // distinct formula hashes, signed-packed ((hi<<32)|lo as the engine
    // publishes: hi ≥ 2^31 wraps negative), brute-force hamming <= 3 —
    // the chunk-blocked distinct-universe search must find the exact set
    "m17_perceptual_hash_pairs" ->
      s"""WITH $ahashCte,
         |u AS (SELECT DISTINCT
         |        (ahash_hi - CASE WHEN ahash_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
         |          * 4294967296 + ahash_lo AS hp,
         |        ahash_hi AS hi, ahash_lo AS lo
         |      FROM h)
         |SELECT a.hp AS hash1, b.hp AS hash2,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         |FROM u a JOIN u b ON a.hp < b.hp
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin,

    // connected components over the brute-force pair set, replayed as a
    // recursive reachability CTE (the d12 closure pattern on formula
    // hashes instead of a candidate dump): label = min reachable hash
    "m18_perceptual_clusters" ->
      s"""WITH RECURSIVE $ahashCte,
         |u AS (SELECT DISTINCT
         |        (ahash_hi - CASE WHEN ahash_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
         |          * 4294967296 + ahash_lo AS hp,
         |        ahash_hi AS hi, ahash_lo AS lo
         |      FROM h),
         |p AS (SELECT a.hp AS h1, b.hp AS h2 FROM u a JOIN u b ON a.hp < b.hp
         |      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
         |e AS (SELECT h1 AS src, h2 AS dst FROM p
         |      UNION ALL SELECT h2, h1 FROM p),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)
         |SELECT id, min(r) AS label FROM reach GROUP BY id""".stripMargin,

    // the envelope bits recomputed arithmetically — a match proves the
    // WAV decode → window-sum → threshold pipeline end-to-end, the m13
    // proof for sound
    "m20_audio_envelope_hash" ->
      s"WITH ${ehashCte("g", "h")} SELECT media_id, ehash_hi, ehash_lo FROM h",

    // distinct envelope hashes, signed-packed, brute-force hamming <= 3
    // (the m17 oracle with the audio formula)
    "m21_audio_perceptual_pairs" ->
      s"""WITH ${ehashCte("g", "h")},
         |u AS (SELECT DISTINCT
         |        (ehash_hi - CASE WHEN ehash_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
         |          * 4294967296 + ehash_lo AS hp,
         |        ehash_hi AS hi, ehash_lo AS lo
         |      FROM h)
         |SELECT a.hp AS hash1, b.hp AS hash2,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         |FROM u a JOIN u b ON a.hp < b.hp
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin,

    // both fixtures' formula hashes; a batch asset is new iff NO corpus
    // perception is within hamming 3 of its own hash
    "m19_incremental_perceptual_new" ->
      s"""WITH ${ahashCteNamed(101, "bg", "bh", " WHERE doc_id % 10 = 0", maskMod = 24)},
         |${ahashCteNamed(101, "cg", "ch", " WHERE doc_id % 10 <> 0")},
         |cu AS (SELECT DISTINCT ahash_hi AS hi, ahash_lo AS lo FROM ch)
         |SELECT bh.media_id FROM bh
         |WHERE NOT EXISTS (SELECT 1 FROM cu
         |  WHERE bit_count(xor(bh.ahash_hi, cu.hi)) +
         |        bit_count(xor(bh.ahash_lo, cu.lo)) <= 3)""".stripMargin,

    // content-new = batch seeds with no corpus member: doc_ids share
    // decoded content iff they share doc_id % 397 (the dup-table seed),
    // so the anti-join replays as NOT EXISTS over the seed groups
    "m9_incremental_content_new" ->
      """SELECT d.doc_id AS media_id FROM documents d
        |WHERE d.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 10 <> 0 AND c.doc_id % 397 = d.doc_id % 397)""".stripMargin,

    // identical output to m9 (ledger-probe path) — same replay
    "m12_incremental_content_indexed" ->
      """SELECT d.doc_id AS media_id FROM documents d
        |WHERE d.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 10 <> 0 AND c.doc_id % 397 = d.doc_id % 397)""".stripMargin,

    // every window of a square-wave clip (full or partial tail) has mean
    // |sample| exactly amp; window count and tail size are integer
    // arithmetic over the formula clip length
    "m10_audio_features" ->
      """WITH g AS (SELECT doc_id AS media_id, 800 + doc_id % 1600 AS n,
        |    1000 + (doc_id * 7) % 9000 AS amp FROM documents),
        |w AS (SELECT media_id, n, amp, CAST(ceil(n / 1000.0) AS INT) AS nw FROM g)
        |SELECT media_id, CAST(i - 1 AS INT) AS window_idx,
        |  CAST(CASE WHEN i * 1000 <= n THEN 1000 ELSE n - (i - 1) * 1000 END AS BIGINT) AS n_in_window,
        |  CAST(amp AS BIGINT) AS mean_abs
        |FROM w, range(1, 4) t(i) WHERE i <= nw""".stripMargin,

    "m7_audio_decode" ->
      """SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(800 + doc_id % 1600 AS BIGINT) AS n_samples,
        |  CAST(1000 + (doc_id * 7) % 9000 AS INT) AS peak,
        |  CAST((800 + doc_id % 1600) * (1000 + (doc_id * 7) % 9000) AS BIGINT) AS sum_abs
        |FROM documents""".stripMargin,

    "s1_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |       FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, round(cos,4) AS cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 5""".stripMargin,

    // dump-replay oracles for the ANN rescore stage (candidate/survivor
    // SELECTION is hash- or integer-dot-keyed and engine-specific; the
    // exact-cosine rank over the dumped pair set is not)
    "s2_ann_topk" -> annRerankSql("s2", 5),
    "s4_ivf_topk" -> annRerankSql("s4", 5),
    // s13/s14: same rescore replay as s4/s2 — the append seam is
    // index-side only (the dumps already reflect the appended cells)
    "s13_ivf_append_topk" -> annRerankSql("s13", 5),
    "s14_srp_append_topk" -> annRerankSql("s14", 5),
    // s15/s16: the compression-path append rungs — same seam argument
    "s15_pq_append_topk" -> annRerankSql("s15", 5),
    "s16_ivfpq_append_topk" -> annRerankSql("s16", 5),
    "s7_ann_int8" -> annRerankSql("s7", 5),
    "s8_ivf_int8" -> annRerankSql("s8", 5),
    "s10_pq_topk" -> annRerankSql("s10", 5),
    "s11_ivfpq_topk" -> annRerankSql("s11", 5),

    "s3_label_centroids" ->
      """SELECT label, CAST(i-1 AS BIGINT) AS pos,
        |  round((CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
        |        / count(*)) * 10000) / 10000.0 + 0.0 AS mean_x,
        |  count(*) AS n
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i""".stripMargin,

    // MMR greedy replay, five UNROLLED argmax stages (a recursive CTE
    // would need window functions in the recursive member): candidates =
    // exact top-20 on the 4dp cosine (engine-independent, re-derived here
    // rather than dumped), every score computed from 4dp inputs with
    // explicit DOUBLE literals so the λ arithmetic is the identical IEEE
    // expression the Scala greedy evaluates.
    "s9_mmr_topk" ->
      """WITH e AS (SELECT vec_id,
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
        |  UNION ALL SELECT query_id, neighbor_id, 5, score FROM s5)""".stripMargin,

    "s5_doc_embedding_join" ->
      """SELECT source, count(*) AS n_docs,
        |  round((CAST(sum(CAST(sqrt(coalesce(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)) AS DECIMAL(20,10))) AS DOUBLE)
        |    / count(*)) * 10000) / 10000.0 + 0.0 AS avg_norm,
        |  round((CAST(sum(CAST(label AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*)) * 10000) / 10000.0 + 0.0 AS avg_label
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY source""".stripMargin,

    "s6_int8_quantize" ->
      """WITH v AS (SELECT vec_id,
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
        |FROM q""".stripMargin,

    // the z-ordered mirror is a permutation of orders, so the oracle is
    // the same filter+agg on the raw table
    "z1_zorder_prune" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_totalprice BETWEEN 50000 AND 150000
        |  AND o_custkey BETWEEN 200 AND 1000
        |GROUP BY o_orderstatus""".stripMargin,

    // token blocking + levenshtein replayed literally (DuckDB's
    // levenshtein is the same classic unit-cost edit distance); the
    // occupancy cap counts DISTINCT NAMES per token, like the operator
    "er1_name_matches" ->
      """WITH u AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
        |t AS (SELECT DISTINCT name, unnest(string_split_regex(name, '\s+')) AS tok FROM u),
        |t2 AS (SELECT name, tok FROM t WHERE len(tok) > 0
        |       QUALIFY count(*) OVER (PARTITION BY tok) <= 1000),
        |p AS (SELECT DISTINCT a.name AS name1, b.name AS name2
        |      FROM t2 a JOIN t2 b ON a.tok = b.tok AND a.name < b.name)
        |SELECT name1, name2, CAST(levenshtein(name1, name2) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(name1, name2) <= 2""".stripMargin,

    // the closure over er1's pairs as a recursive min-label CTE (the
    // m18 pattern), then every part row joined to its component label;
    // unmatched names label as themselves via the singleton base case
    "er2_entity_groups" ->
      s"""$erClosureCte
         |SELECT pt.p_partkey, pt.p_name, coalesce(c.entity, pt.p_name) AS entity
         |FROM part pt LEFT JOIN canon c ON pt.p_name = c.name""".stripMargin,

    // er5: er2's closure replay + the keep rule (null-safe name ==
    // entity — survivors are the rows carrying the canonical spelling;
    // null-name rows keep themselves with a null entity)
    "er5_entity_survivors" ->
      s"""$erClosureCte
         |SELECT pt.p_partkey, pt.p_name, coalesce(c.entity, pt.p_name) AS entity,
         |  (pt.p_name IS NOT DISTINCT FROM coalesce(c.entity, pt.p_name)) AS keep
         |FROM part pt LEFT JOIN canon c ON pt.p_name = c.name""".stripMargin,

    // batch names conformed to the standing universe: blocking +
    // levenshtein + best-match (min dist, tie lexicographic) replayed
    // literally; the occupancy cap counts the STANDING side
    "er3_incremental_matches" -> erIncrementalSql,
    // er4 is the SAME answer through the persisted NameIndex (the
    // d15/d16 oracle relationship: one semantic truth, two paths)
    "er4_incremental_indexed" -> erIncrementalSql,

    // g family: the lag-derived transition edge list, then PageRank /
    // degrees / triangles replayed relationally over it
    "g1_page_transitions" ->
      s"""WITH $graphEdgeCte
         |SELECT src, dst, n_trans FROM e""".stripMargin,

    // g9: the engine folds two time-split batches through the last-view
    // state; the oracle is the ONE-SHOT derivation over the full log
    "g9_edges_incremental" ->
      s"""WITH $graphEdgeCte
         |SELECT src, dst, n_trans FROM e""".stripMargin,

    // g10: the engine's 4 synchronous rounds replayed literally as CTEs
    // — all-long votes and the (weight DESC, label ASC) winner pin make
    // the replay exact with no numeric discipline needed at all
    "g10_label_propagation" -> lpaSql,

    "g2_pagerank" -> pageRankSql,
    // g11: the engine resumes a 2-iteration raw snapshot for 1 more
    // iteration; the oracle is the ONE-SHOT 3-iteration unrolled SQL —
    // the hash match IS the resume∘snapshot == one-shot contract
    "g11_pagerank_resume" -> pageRankSql,
    // g12: the engine resumes a 2-round raw label snapshot for 2 more
    // rounds; the oracle is g10's ONE-SHOT 4-round unrolled SQL — the
    // hash match IS the resume∘snapshot == one-shot contract
    "g12_lpa_resume" -> lpaSql,

    "g3_degree_census" ->
      s"""WITH $graphEdgeCte,
         |o AS (SELECT src AS page, count(*) AS out_deg, sum(n_trans) AS out_trans FROM e GROUP BY src),
         |i AS (SELECT dst AS page, count(*) AS in_deg, sum(n_trans) AS in_trans FROM e GROUP BY dst)
         |SELECT page, coalesce(out_deg, 0) AS out_deg, CAST(coalesce(out_trans, 0) AS BIGINT) AS out_trans,
         |  coalesce(in_deg, 0) AS in_deg, CAST(coalesce(in_trans, 0) AS BIGINT) AS in_trans
         |FROM o FULL OUTER JOIN i USING (page)""".stripMargin,

    // the oracle enumerates {a<b<c} triangles by the naive triple join —
    // the engine's degree-ordered orientation finds the identical set
    "g4_triangle_census" ->
      s"""WITH $graphEdgeCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |corners AS (SELECT x AS page FROM tri UNION ALL SELECT y AS page FROM tri UNION ALL SELECT z AS page FROM tri)
         |SELECT page, count(*) AS n_triangles FROM corners GROUP BY page""".stripMargin,

    // undirected closure over the edge list via the recursive min-label
    // CTE (the m18/er2 closure-oracle pattern)
    "g5_page_components" -> componentsSql,
    // g13: the engine folds the odd-half edge batch into the even-half
    // labeling; the oracle is g5's ONE-SHOT closure over ALL edges —
    // the hash match IS the fold == one-shot contract
    "g13_components_incremental" -> componentsSql,

    // bounded-radius harmonic centrality: directed shortest distances
    // via a depth-bounded recursive walk (min over path lengths), then
    // the exact-rational sum — 60//d is an exact integer for d ≤ 6, one
    // correctly-rounded double division at the end (Graph scaladoc)
    "g6_harmonic_centrality" ->
      s"""WITH RECURSIVE $graphEdgeCte,
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
         |FROM n LEFT JOIN h USING (page)""".stripMargin,

    // HyperBall shares the exact form's oracle: at page-domain ball
    // sizes the HLL sketch is in exact coupon-list mode (Graph
    // scaladoc), so the estimates ARE the true ball sizes; g7 publishes
    // 6-dp-rounded values because its per-depth Δ/t accumulation can
    // differ from the exact lcm-rational division by 1 ulp
    "g7_harmonic_hyperball" ->
      s"""WITH RECURSIVE $graphEdgeCte,
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
         |FROM n LEFT JOIN h USING (page)""".stripMargin,

    // personalized PageRank unrolled like g2 — teleport (residual AND
    // dangling mass) lands on the 5 seed pages only; every double
    // literal CAST in double space, every sum decimal-staged, and the
    // seed term written as ONE (residual + d*dm)/|S| division exactly
    // as the engine computes it
    "g8_personalized_pagerank" -> pprSql,

    // ml family: the softsign-GD fit unrolled to CTEs (every constant
    // exactly representable in binary, every double sum decimal-stable —
    // the weights replay bit-identically; QualityClassifier scaladoc)
    "ml1_quality_weights" ->
      s"""WITH $mlFitCte
         |SELECT round(b0 * 1000000) / 1000000.0 + 0.0 AS w0,
         |  round(b1 * 1000000) / 1000000.0 + 0.0 AS w1,
         |  round(b2 * 1000000) / 1000000.0 + 0.0 AS w2,
         |  round(b3 * 1000000) / 1000000.0 + 0.0 AS w3,
         |  nd.n_docs
         |FROM w8 CROSS JOIN (SELECT count(*) AS n_docs FROM f) nd""".stripMargin,

    "ml2_quality_scores" ->
      s"""WITH $mlFitCte
         |SELECT doc_id,
         |  round((0.5 + 0.5 * z / (1 + abs(z))) * 1000000) / 1000000.0 + 0.0 AS quality_score,
         |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted,
         |  CAST(y AS BIGINT) AS label
         |FROM (SELECT f.*, b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3 AS z
         |      FROM f CROSS JOIN w8)""".stripMargin,

    // ml3: the engine scores the batch slice under PERSISTED standing
    // weights (no fit at query time); the oracle replays the full fit
    // and scores the same slice — one semantic truth, two paths (the
    // d15/d16 oracle relationship)
    "ml3_incremental_scores" ->
      s"""WITH $mlFitCte
         |SELECT doc_id,
         |  round((0.5 + 0.5 * z / (1 + abs(z))) * 1000000) / 1000000.0 + 0.0 AS quality_score,
         |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted,
         |  CAST(y AS BIGINT) AS label
         |FROM (SELECT f.*, b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3 AS z
         |      FROM f CROSS JOIN w8)
         |WHERE doc_id % 7 = 0""".stripMargin,

    // dq family: the one-scan conditional-agg suite unpivoted to report
    // rows; every metric a ratio of counts or an exact min/max
    "dq1_orders_checks" ->
      s"""WITH a AS (SELECT CAST(count(*) AS DOUBLE) AS m0,
         |  CAST(count(o_custkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
         |  CAST(count(DISTINCT o_orderkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m2,
         |  CAST(min(o_totalprice) AS DOUBLE) AS m3,
         |  CAST(count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m4,
         |  CAST(count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m5
         | FROM orders)
         |${dqReport(Seq(
             ("row_count", "*", "m0", "1000"),
             ("completeness", "o_custkey", "m1", "1"),
             ("uniqueness", "o_orderkey", "m2", "1"),
             ("min_value", "o_totalprice", "m3", "0"),
             ("in_set", "o_orderstatus", "m4", "1"),
             ("matches", "o_orderpriority", "m5", "1")), maxRows = Set())}""".stripMargin,

    "dq7_conditional_checks" ->
      s"""WITH a AS (SELECT
         |  CAST(count(CASE WHEN l_extendedprice > 0 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
         |  CAST(count(CASE WHEN l_quantity < 40 OR l_discount >= 0.02 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
         |  CAST(count(CASE WHEN l_discount = 0 OR l_tax <= 0.07 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m2
         | FROM lineitem)
         |${dqReport(Seq(
             ("satisfies", "price_positive", "m0", "1"),
             ("satisfies", "bulk_is_discounted", "m1", "0.9"),
             ("satisfies", "tax_capped_when_discounted", "m2", "0.95")), maxRows = Set())}""".stripMargin,

    "dq2_referential_checks" ->
      """SELECT 'referential' AS check_name, 'o_custkey' AS col_name,
        |  round(m * 1000000) / 1000000.0 + 0.0 AS metric,
        |  CAST(1 AS DOUBLE) AS threshold, m >= CAST(1 AS DOUBLE) AS passed
        |FROM (SELECT CAST(count(k.__k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |      FROM orders LEFT JOIN (SELECT DISTINCT c_custkey AS __k FROM customer) k
        |      ON orders.o_custkey = k.__k)
        |UNION ALL
        |SELECT 'referential' AS check_name, 'l_orderkey' AS col_name,
        |  round(m * 1000000) / 1000000.0 + 0.0 AS metric,
        |  CAST(1 AS DOUBLE) AS threshold, m >= CAST(1 AS DOUBLE) AS passed
        |FROM (SELECT CAST(count(k.__k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |      FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS __k FROM orders) k
        |      ON lineitem.l_orderkey = k.__k)""".stripMargin,

    "dq3_documents_checks" ->
      s"""WITH a AS (SELECT
         |  CAST(count(text) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m0,
         |  CAST(count(DISTINCT doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
         |  CAST(min(n_chars) AS DOUBLE) AS m2,
         |  CAST(max(n_chars) AS DOUBLE) AS m3,
         |  CAST(count(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m4
         | FROM documents)
         |${dqReport(Seq(
             ("completeness", "text", "m0", "1"),
             ("uniqueness", "doc_id", "m1", "1"),
             ("min_value", "n_chars", "m2", "1"),
             ("max_value", "n_chars", "m3", "10000"),
             ("in_set", "lang", "m4", "1")), maxRows = Set("m3"))}""".stripMargin,

    // dq5: the bloom prefilter is answer-invisible (no false negatives;
    // the join demotes false positives) — the oracle is the PLAIN join
    "dq5_referential_bloom" ->
      """SELECT 'referential' AS check_name, 'l_orderkey' AS col_name,
        |  round(m * 1000000) / 1000000.0 + 0.0 AS metric,
        |  CAST(1 AS DOUBLE) AS threshold, m >= CAST(1 AS DOUBLE) AS passed
        |FROM (SELECT CAST(count(k.__k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |      FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS __k FROM orders) k
        |      ON lineitem.l_orderkey = k.__k)""".stripMargin,

    // dq6: each row's declaration-ordered reason list built by list
    // concatenation then ','-joined (mirrors the engine's array_join
    // publish — arrays are unsortable in the harness) — null user_id
    // fails completeness, value < 1 fails min_value (nulls pass: min()
    // skips them), event_type outside the set (or null) fails in_set
    "dq6_quarantine" ->
      """SELECT event_id, array_to_string(
        |  (CASE WHEN user_id IS NULL THEN ['completeness:user_id'] ELSE [] END) ||
        |  (CASE WHEN value IS NOT NULL AND value < 1.0 THEN ['min_value:value'] ELSE [] END) ||
        |  (CASE WHEN event_type IS NULL OR event_type NOT IN ('view','click','purchase','signup')
        |        THEN ['in_set:event_type'] ELSE [] END), ',') AS failed_checks
        |FROM events
        |WHERE user_id IS NULL OR (value IS NOT NULL AND value < 1.0)
        |   OR event_type IS NULL
        |   OR event_type NOT IN ('view','click','purchase','signup')""".stripMargin,

    // dq4: the per-day metric history + trailing-mean drift judgment
    // replayed literally (decimal-staged trailing mean, rounded
    // published values, unrounded comparison — the engine's exact
    // expressions; threshold literals CAST in DOUBLE space)
    "dq4_metric_drift" ->
      """WITH m AS (SELECT CAST(ts AS DATE) AS period,
        |    round((CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000.0 + 0.0 AS c_val,
        |    round((CAST(count(DISTINCT user_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000) / 1000000.0 + 0.0 AS u_usr,
        |    round(CAST(min(value) AS DOUBLE) * 1000000) / 1000000.0 + 0.0 AS mn_val,
        |    round(CAST(max(value) AS DOUBLE) * 1000000) / 1000000.0 + 0.0 AS mx_val
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT period, 'completeness' AS check_name, 'value' AS col_name, c_val AS metric FROM m
        |  UNION ALL SELECT period, 'uniqueness', 'user_id', u_usr FROM m
        |  UNION ALL SELECT period, 'min_value', 'value', mn_val FROM m
        |  UNION ALL SELECT period, 'max_value', 'value', mx_val FROM m),
        |l AS (SELECT max(period) AS latest FROM h),
        |cur AS (SELECT check_name, col_name, metric FROM h, l WHERE period = latest),
        |tr AS (SELECT check_name, col_name,
        |    CAST(sum(CAST(metric AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS tm
        |  FROM h, l WHERE period < latest GROUP BY 1, 2)
        |SELECT c.check_name, c.col_name, c.metric,
        |  round(tm * 1000000) / 1000000.0 + 0.0 AS trailing_mean,
        |  round(abs(c.metric - tm) * 1000000) / 1000000.0 + 0.0 AS delta,
        |  CAST(0.02 AS DOUBLE) AS threshold,
        |  (tm IS NULL OR abs(c.metric - tm) <= CAST(0.02 AS DOUBLE)) AS passed
        |FROM cur c LEFT JOIN tr USING (check_name, col_name)""".stripMargin
  )

  /** dq oracle helper: unpivot the one-row aggregate into report rows
    * (`maxRows` metrics pass on ≤ instead of ≥).
    */
  private def dqReport(rows: Seq[(String, String, String, String)],
                       maxRows: Set[String]): String =
    rows.map { case (name, c, m, thr) =>
      val cmp = if (maxRows.contains(m)) "<=" else ">="
      s"""SELECT '$name' AS check_name, '$c' AS col_name,
         |  round($m * 1000000) / 1000000.0 + 0.0 AS metric,
         |  CAST($thr AS DOUBLE) AS threshold, $m $cmp CAST($thr AS DOUBLE) AS passed FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Shared ml-family oracle prefix: featurization + 8 unrolled softsign
    * GD steps ([[graft.ml.QualityClassifier]] replayed literally; lr=8
    * and every other constant is exactly binary-representable, so no
    * double-vs-decimal literal drift exists anywhere in the fit).
    */
  private lazy val mlFitCte: String = {
    val steps = (0 until 8).map { i =>
      s"""z$i AS (SELECT f.*, b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3 AS z FROM f CROSS JOIN w$i),
         |t$i AS (SELECT z$i.*, (0.5 + 0.5 * z / (1 + abs(z)) - y) / ((1 + abs(z)) * (1 + abs(z))) AS t FROM z$i),
         |g$i AS (SELECT CAST(sum(CAST(t * x0 AS DECIMAL(20,10))) AS DOUBLE) AS g0,
         |  CAST(sum(CAST(t * x1 AS DECIMAL(20,10))) AS DOUBLE) AS g1,
         |  CAST(sum(CAST(t * x2 AS DECIMAL(20,10))) AS DOUBLE) AS g2,
         |  CAST(sum(CAST(t * x3 AS DECIMAL(20,10))) AS DOUBLE) AS g3 FROM t$i),
         |w${i + 1} AS (SELECT b0 - 8 * g0 / n AS b0, b1 - 8 * g1 / n AS b1,
         |  b2 - 8 * g2 / n AS b2, b3 - 8 * g3 / n AS b3
         |  FROM w$i CROSS JOIN g$i CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""f AS (SELECT doc_id,
       |  CAST(1 AS DOUBLE) AS x0,
       |  ln(CAST(1 AS DOUBLE) + n_chars) - 5.5 AS x1,
       |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS DOUBLE) / 100.0 - 0.5 AS x2,
       |  CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(len(text) - len(replace(text, 'a', '')) AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS x3,
       |  CASE WHEN n_chars >= 256 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
       | FROM documents),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |w0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,
       |  CAST(0 AS DOUBLE) AS b2, CAST(0 AS DOUBLE) AS b3),
       |$steps""".stripMargin
  }

  /** Shared g-family oracle CTE: the per-user page-transition edge list
    * (the exact lag/groupBy recipe of [[graphEdges]]).
    */
  /** One synchronous LPA round as a CTE: `l<i>` re-labels every vertex
    * with the (total incident weight DESC, label ASC) winner over its
    * neighbors' `l<i-1>` labels, keeping the old label where no
    * neighbor votes exist — the literal replay of one
    * [[graft.graph.Graph.labelPropagation]] iteration.
    */
  /** w8's oracle — one-shot gap-1440 sessionization over the event
    * log; also w20's (fold == one-shot). */
  private lazy val sessionSql: String =
    """WITH t AS (SELECT user_id, ts, value,
      |  CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) -
      |            CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
      |       > 1440*60 THEN 1 ELSE 0 END AS nw
      |  FROM events),
      |s AS (SELECT user_id, ts, value,
      |  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM t)
      |SELECT user_id, session_id, count(*) AS n,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
      |    / 10000.0 + 0.0 AS value_mean
      |FROM s GROUP BY user_id, session_id""".stripMargin

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

  private def lpaRound(i: Int): String =
    s"""l$i AS (SELECT lv.page, coalesce(w.nl, lv.l) AS l FROM l${i - 1} lv LEFT JOIN (
       |    SELECT a, l AS nl FROM (
       |      SELECT und.a, lb.l, row_number() OVER (
       |          PARTITION BY und.a ORDER BY sum(und.w) DESC, lb.l ASC) AS rk
       |      FROM und JOIN l${i - 1} lb ON und.b = lb.page
       |      GROUP BY und.a, lb.l) WHERE rk = 1) w ON lv.page = w.a)""".stripMargin

  private lazy val graphEdgeCte: String =
    """e AS (SELECT src, page AS dst, count(*) AS n_trans FROM (
      |    SELECT user_id, event_id % 50 AS page,
      |           lag(event_id % 50) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
      |    FROM events) WHERE src IS NOT NULL GROUP BY src, page)""".stripMargin

  /** g2's oracle: [[graft.graph.Graph.pageRank]] unrolled to CTEs — 3
    * power iterations with dangling-mass redistribution. Every double
    * literal is CAST in DOUBLE space so both engines bind identical bits
    * (DuckDB's decimal folding of `1 - 0.85` differs from the JVM's),
    * and every sum of doubles accumulates as DECIMAL(20,10).
    */
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
}
