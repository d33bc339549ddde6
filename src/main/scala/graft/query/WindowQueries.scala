package graft
package query

import org.apache.spark.sql.functions._

import graft.analyze.Analytics

/** The `w` family: windows, time series, sessions and lifecycle folds (SURVEY §2.5). */
private[graft] object WindowQueries {

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

  /** w17's oracle, shared with w18 (same rows by design). */
  private val scd2IntervalsSql: String =
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM starts""".stripMargin

  val family: Family = Family("w", "windows / sessions / lifecycle",
    impl = "graft.analyze.Analytics, graft.analyze.Lifecycle",
    specs = "AnalyticsSpec, LifecycleSpec", queries = Seq(
    Query("w1_trend_analysis", (s, d) => Analytics.trendAnalysis(Tables.events(s, d), "ts", "event_type", "value"),
      Sql("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, avg(value) AS v
        |               FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |chg AS (SELECT event_type,
        |          CAST(v - lag(v) OVER (PARTITION BY event_type ORDER BY d) AS DECIMAL(18,6)) AS chg
        |        FROM daily)
        |SELECT event_type,
        |  round((CAST(sum(chg) AS DOUBLE) / count(*)) * 10000) / 10000.0 + 0.0 AS avg_daily_change,
        |  round(CAST(max(chg) AS DOUBLE),4) AS max_increase,
        |  round(CAST(min(chg) AS DOUBLE),4) AS max_decrease,
        |  CASE WHEN sum(chg) > 0 THEN 'warming' ELSE 'cooling' END AS overall_trend
        |FROM chg WHERE chg IS NOT NULL GROUP BY event_type""".stripMargin)),

    Query("w3_pivot_daily", (s, d) =>
      Analytics.pivotDaily(Tables.events(s, d), "ts", "event_type", "value",
        Seq("click", "error", "purchase", "signup", "view")),
      Sql("""WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
        |  round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |    / 10000.0 + 0.0 AS vm
        |  FROM events GROUP BY CAST(ts AS DATE), event_type)
        |SELECT strftime(d, '%Y-%m-%d') AS date,
        |  max(vm) FILTER (WHERE event_type = 'click') AS click,
        |  max(vm) FILTER (WHERE event_type = 'error') AS error,
        |  max(vm) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  max(vm) FILTER (WHERE event_type = 'signup') AS signup,
        |  max(vm) FILTER (WHERE event_type = 'view') AS view
        |FROM daily GROUP BY d""".stripMargin)),

    Query("w4_multiday_groups", (s, d) => Analytics.multiDayGroups(Tables.events(s, d), "ts", "event_type"),
      Sql("""SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events GROUP BY event_type HAVING count(DISTINCT CAST(ts AS DATE)) > 1""".stripMargin)),

    Query("w5_rolling_avg", (s, d) => Analytics.rollingAvg(Tables.events(s, d), "ts", "event_type", "value"),
      Sql("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, avg(value) AS v,
        |    round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |      / 10000.0 + 0.0 AS vm
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT strftime(d, '%Y-%m-%d') AS date, event_type,
        |  vm AS value_mean,
        |  round(avg(v) OVER (PARTITION BY event_type ORDER BY d
        |                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS rolling_mean
        |FROM daily""".stripMargin)),

    Query("w7_rank_ntile", (s, d) => Analytics.rankAndNtile(Tables.events(s, d), "ts", "event_type", "value"),
      Sql("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) * 10000)
        |      / 10000.0 + 0.0 AS vm
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT strftime(d, '%Y-%m-%d') AS date, event_type, vm AS value_mean,
        |  CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY vm DESC, d) AS BIGINT) AS rnk,
        |  CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY vm DESC, d) AS BIGINT) AS quartile
        |FROM daily""".stripMargin)),

    Query("w8_sessionize", (s, d) =>
      Analytics.sessionSummary(Tables.events(s, d), "user_id", "ts", "value", gapMinutes = 1440),
      Sql(sessionSql)),

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
    // plan: the fold windows only seed and batch; the standing state is a StateStore parquet read
    Query("w20_sessions_incremental", (s, d) => {
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
    },
      // w20: the engine folds a time-split batch through the session
      // frontier state; the oracle is w8's ONE-SHOT sessionization — the
      // hash match IS the fold == one-shot contract
      Sql(sessionSql)),

    // the StateStore EPOCH WALK exercised end-to-end in the registered
    // surface: three (ts)-ordered slices of the log fold through
    // advance()'d epoch snapshots — each fold consumes the READ-BACK
    // artifact of the previous one (never an in-memory frame), so the
    // parquet round-trip sits inside the chain twice, and the publish
    // equals the one-shot sessionization over the full log (the w8/w20
    // oracle — the hash match IS the fold == one-shot contract through
    // two persisted seams). Fixed epoch keys: a re-run overwrites its
    // own epochs, the at-least-once contract
    // plan: the two standing inputs are parquet scans of epoch snapshots, never recomputed prefixes
    Query("w21_sessions_epochs", (s, d) => {
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
    },
      // w21: the same one-shot contract through two persisted epoch seams
      Sql(sessionSql)),

    // RANGE-frame rolling window: per user, trailing 10 minutes of EVENT
    // TIME (not rows) — the frame type w5's ROWS rolling can't express.
    Query("w9_range_rolling", (s, d) =>
      Analytics.rangeRolling(Tables.events(s, d), "user_id", "ts", "value",
        rangeSeconds = 600),
      Sql("""SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  count(*) OVER w AS n_window,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS window_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Unkeyed interval join (count flavor): corpus-wide events falling in
    // each w8 session's [start, end] — decomposed into broadcast interior
    // day sums + one cumulative window for boundary ranks, never a
    // nested-loop or a per-day bin explosion (see sessionOverlapCount).
    Query("w10_interval_join", (s, d) =>
      Analytics.sessionOverlapCount(Tables.events(s, d), "user_id", "ts",
        gapMinutes = 1440),
      // The oracle replays w10 as the NAIVE unkeyed BETWEEN join — fine at
      // oracle scale, and exactly the semantics the decomposed Spark plan
      // must reproduce. Inner join is safe: every session contains its own
      // first event, so no session can have zero overlaps.
      Sql("""WITH t AS (SELECT user_id, ts,
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
        |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // As-of join: each error event enriched with the user's latest prior
    // purchase value (point-in-time correctness — no lookahead).
    Query("w6_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      Analytics.asofJoin(errors, purchases, Seq("user_id"), "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
                round(col("asof_value"), 4).as("last_purchase_value"))
    },
      Sql("""SELECT l.event_id, l.user_id,
        |  round(r.value, 4) AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // Rolling distinct actives (DAU + 7-day AU): sliding DISTINCT can't
    // ride a window frame; contribution-explode of the deduped (user,
    // day) frame + per-day distinct count IS the rolling distinct.
    Query("w12_active_users", (s, d) =>
      Analytics.rollingActiveUsers(Tables.events(s, d), "ts", "user_id",
        windowDays = 7),
      Sql("""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
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
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin)),

    // Rolling z-score anomaly flags: trailing-20-rows baseline per type,
    // decimal-exact frame sums (Σx, Σx²) so sliding accumulation order
    // can't drift between engines; warm-up and zero-variance rows null.
    Query("w13_rolling_zscore", (s, d) =>
      Analytics.rollingZScore(Tables.events(s, d), "event_type", "ts", "value",
        lookback = 20, minObs = 5, zThreshold = 2.0),
      Sql("""WITH t AS (SELECT event_id, event_type, ts, value,
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
        |FROM z""".stripMargin)),

    // As-of join with a tolerance bound (pandas merge_asof(tolerance=...)):
    // same one-shuffle union-window machinery as w6 — the right ts rides
    // along as a value column and matches older than 1 h are nulled AFTER
    // the join, so tolerance costs zero extra plan.
    Query("w11_asof_tolerance", (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("ts").as("rts"))
      Analytics.asofJoin(errors, purchases, Seq("user_id"), "ts", Seq("value", "rts"))
        .select(col("event_id"), col("user_id"),
          when(col("ts").cast("long") - col("asof_rts").cast("long") <= 3600,
            round(col("asof_value"), 4)).as("purchase_within_1h"))
    },
      Sql("""SELECT l.event_id, l.user_id,
        |  CASE WHEN CAST(floor(epoch(l.ts)) AS BIGINT) -
        |            CAST(floor(epoch(r.ts)) AS BIGINT) <= 3600
        |       THEN round(r.value, 4) END AS purchase_within_1h
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // Windowed conversion funnel (signup -> view -> click -> purchase,
    // each conversion within 6 h): exact latest-achievable fold, ONE
    // shuffle on user — the oracle replays the n-stage chain join the
    // engine must never run at scale.
    // plan: one shuffle for the whole funnel
    Query("w14_funnel", (s, d) =>
      graft.analyze.Lifecycle.funnel(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("signup", "view", "click", "purchase"),
        maxLagSeconds = 21600),
      // The oracle replays the funnel as explicit n-stage chain joins
      // (exists a signup->view->click->purchase chain with every
      // consecutive gap in [0, 6 h]) — exactly the formulation the
      // single-pass latest-achievable fold must reproduce, and exactly the
      // join explosion it exists to avoid at scale.
      Sql("""WITH s AS (SELECT user_id, ts, event_type FROM events
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
        |  CASE WHEN n3 > 0 THEN round(CAST(n4 AS DOUBLE) / n3 * 10000) / 10000.0 + 0.0 END FROM n""".stripMargin)),

    // Cohort retention: users cohorted by FIRST-PURCHASE day (purchases
    // are sparse per user-day, so cohorts spread over several days
    // instead of collapsing into the dense first-seen day), retained =
    // purchased again exactly 1/7/14 days later; raw events touched once
    // for the (user, day) dedup.
    // plan: one shuffle for the whole retention matrix
    Query("w15_retention", (s, d) =>
      graft.analyze.Lifecycle.cohortRetention(
        Tables.events(s, d).filter(col("event_type") === "purchase"), "ts",
        "user_id", offsets = Seq(1, 7, 14)),
      Sql("""WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
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
        |FROM j GROUP BY cohort""".stripMargin)),

    // Gap-filled per-user daily purchase series (LOCF): purchases are
    // sparse per user-day, so the spine genuinely fills; is_filled
    // distinguishes carried values.
    Query("w16_gap_fill", (s, d) =>
      graft.analyze.Lifecycle.gapFillDaily(
        Tables.events(s, d).filter(col("event_type") === "purchase"),
        "user_id", "ts", "value"),
      Sql("""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
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
        |FROM f""".stripMargin)),

    // SCD-type-2 dimension history from the event change log: each
    // user's consecutive runs of one event_type collapse to validity
    // intervals, open run's valid_to null
    // plan: both windows ride one (key) exchange
    Query("w17_scd2_intervals", (s, d) =>
      graft.analyze.Lifecycle.scd2Intervals(
        Tables.events(s, d), "user_id", "ts", "event_type", "event_id"),
      // run starts via null-safe lag comparison (rn = 1 keeps a first row
      // whose value is null), intervals via lead over the starts
      Sql(scd2IntervalsSql)),

    // the incremental SCD2 proof: fold the change log in two time-split
    // batches (standing snapshot + batch merge) — the oracle replays the
    // ONE-SHOT pass over the full log, so the hash match IS the
    // batch∘batch == one-shot contract
    // standing open runs from the persisted StateStore artifact (the
    // w20 note: deployment shape, identical hash)
    // plan: the merge windows only the open and batch rows; the standing state is a StateStore parquet read
    Query("w18_scd2_incremental", (s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      graft.analyze.Lifecycle.scd2ApplyBatch(
        graft.StateStore.ensure(s, d, "events", "w18_scd2_state",
          graft.analyze.Lifecycle.scd2Intervals(
            ev.filter(col("ts") < cut), "user_id", "ts", "event_type", "event_id")),
        ev.filter(col("ts") >= cut), "user_id", "ts", "event_type", "event_id")
    },
      // the engine folds two time-split batches through scd2ApplyBatch;
      // the oracle is the ONE-SHOT interval pass over the full log — the
      // match proves batch-wise folding loses nothing
      Sql(scd2IntervalsSql)),

    // the frontier-exact incremental SCD2 proof (w18 with the late guard
    // on the FULL (ts, tie) order): the change log is DAY-truncated so
    // same-timestamp changes are everywhere, and both fold cuts land
    // MID-DAY (at the cut day's mean event_id) so same-ts changes
    // straddle them — exactly the boundary scd2ApplyBatch's ts-only
    // guard would drop. The oracle replays the ONE-SHOT pass over the
    // full derived log; the cuts are engine-side only, so the hash match
    // proves the three-way frontier fold is cut-independent.
    Query("w19_scd2_frontier", (s, d) => {
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
    },
      // w19: the engine folds THREE (day, event_id)-split batches through
      // scd2ApplyBatchFrontier with mid-day cuts (same-ts changes straddle
      // both); the oracle is the one-shot pass over the DAY-truncated log
      Sql("""WITH log AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type, event_id
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
        |FROM starts""".stripMargin))))
}
