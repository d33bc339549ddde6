package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation / window / top-k operators — the analysis surface of the
  * reference (`/root/reference/src/analyze.py`), re-expressed as declarative
  * Spark plans so Catalyst gets partial aggregation, whole-stage codegen and
  * pushdown for free.
  *
  * Generic over (group key, time, value) column names: the reference's
  * weather table maps onto the driver `events` table as
  * city→event_type, timestamp→ts, temperature→value (FIXTURES.md §B).
  *
  * Scale posture (100 TB): every function here is a single `groupBy` /
  * `Window` — one shuffle on the grouping key, map-side partial aggregation,
  * no driver-side collection. Exact `percentile`/`median` and
  * `count(DISTINCT)` become sketches under the session's one switch,
  * `spark.graft.approx.aggregates`
  * ([[org.apache.spark.sql.graft.ApproxAggRewrite]]).
  */
object Analytics {

  /** Round helper: all published numerics rounded (reference load.py:192
    * pattern) — also pins cross-engine float determinism for the oracle.
    */
  private def r(c: Column, scale: Int = 4): Column = round(c, scale)

  /** Mean of `value` rounded to 4 digits with ENGINE-STABLE boundary
    * behavior, for use inside an agg. Three divergence sources in a plain
    * `round(avg(x), 4)` vs a sequential oracle, all observed at sf0.1:
    * (1) double summation order differs per partitioning → decimal
    * accumulation (exact, order-free); (2) `round(double, 4)` disagrees
    * between engines when the true mean sits on a .00005 boundary stored
    * as ...4999 binary (Spark rounds the shortest decimal repr, DuckDB the
    * binary value) → scale by 1e4 FIRST so the only round boundary is an
    * exactly-representable dyadic .5, which every engine rounds away from
    * zero; (3) -0.0 vs 0.0 → the final `+ 0.0`.
    * DuckDB twin (operation order must match exactly):
    * `round((CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)/count(x))*10000)/10000.0 + 0.0`
    * The divisor is `count(value)` — null-IGNORING, like `avg()` — not a
    * row count: this is a general-purpose mean and a null input row must
    * not bias it low.
    */
  private[graft] def stableMean4(value: Column, dec: String = "decimal(18,6)"): Column =
    round(sum(value.cast(dec)).cast("double") / count(value) * 10000) / 10000.0 + lit(0.0)

  /** A1 (analyze.py:146-183): global multi-aggregate basic stats.
    * count, ts range, min/max/mean/median of value.
    * `median` is exact (Spark 3.4+); at 100 TB set
    * `spark.graft.approx.aggregates` for the one-pass `percentile_approx`
    * sketch.
    */
  def basicStats(df: DataFrame, ts: String, value: String): DataFrame = {
    val med = median(col(value))
    df.agg(
      count(lit(1)).as("record_count"),
      date_format(min(col(ts)), "yyyy-MM-dd HH:mm:ss").as("ts_min"),
      date_format(max(col(ts)), "yyyy-MM-dd HH:mm:ss").as("ts_max"),
      r(min(col(value))).as("value_min"),
      r(max(col(value))).as("value_max"),
      stableMean4(col(value)).as("value_mean"),
      r(med).as("value_median"))
  }

  /** A2 (analyze.py:185-213): per-group multi-aggregate comparison.
    * One shuffle on `key`; partial agg map-side.
    */
  def groupMultiAgg(df: DataFrame, key: String, value: String): DataFrame =
    df.groupBy(key).agg(
        stableMean4(col(value)).as("value_mean"),
        r(min(col(value))).as("value_min"),
        r(max(col(value))).as("value_max"),
        count(lit(1)).as("n"))
      .orderBy(col(key))

  /** A3 (analyze.py:216-218): warmest/coldest group = argmax/argmin of the
    * per-group mean, as two labelled rows (kind, key, rounded mean) with a
    * deterministic tie-break on key asc for both extremes (SURVEY §5.2).
    */
  def extremeGroupsLabelled(df: DataFrame, key: String, value: String): DataFrame = {
    val byGroup = df.groupBy(key).agg(avg(col(value)).as("m"))
    val hi = byGroup.orderBy(col("m").desc, col(key).asc).limit(1)
      .select(lit("highest").as("kind"), col(key).as("group_key"), r(col("m")).as("value_mean"))
    val lo = byGroup.orderBy(col("m").asc, col(key).asc).limit(1)
      .select(lit("lowest").as("kind"), col(key).as("group_key"), r(col("m")).as("value_mean"))
    hi.unionByName(lo).orderBy("kind")
  }

  /** A4 (analyze.py:239-243): two-key (date, group) aggregation — the daily
    * rollup. Calendar-date bucketing = `to_date`; in streaming this same
    * shape is a 1-day tumbling window (see graft.streaming).
    */
  def dailyAgg(df: DataFrame, ts: String, key: String, value: String): DataFrame =
    df.groupBy(to_date(col(ts)).as("d"), col(key))
      .agg(stableMean4(col(value)).as("value_mean"),
           r(min(col(value))).as("value_min"),
           r(max(col(value))).as("value_max"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("date"), col(key),
              col("value_mean"), col("value_min"), col("value_max"))
      .orderBy(col("date"), col(key))

  /** A5 (analyze.py:276): value_counts — frequency distribution, desc. */
  def valueCounts(df: DataFrame, key: String): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(key))

  /** A6 (analyze.py:283-286): per-group mode (most frequent category).
    * pandas breaks frequency ties by first-encounter order — nondeterministic
    * under parallel scan — so we pin (count desc, category asc)
    * (SURVEY §5.2 determinism rules). One shuffle on (group,cat) then a
    * cheap window over the small aggregate.
    */
  def modePerGroup(df: DataFrame, group: String, cat: String): DataFrame = {
    val counts = df.groupBy(group, cat).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(group).orderBy(col("cnt").desc, col(cat).asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(group), col(cat).as("mode_value"), col("cnt"))
      .orderBy(group)
  }

  /** A7 (load.py:188-196): per-group summary with multi-agg + round(2). */
  def summaryRounded(df: DataFrame, key: String, values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "summaryRounded requires at least one column")
    val aggs = values.flatMap { v =>
      Seq(r(avg(col(v)), 2).as(s"${v}_mean"),
          r(min(col(v)), 2).as(s"${v}_min"),
          r(max(col(v)), 2).as(s"${v}_max"))
    }
    df.groupBy(key).agg(aggs.head, aggs.tail: _*).orderBy(col(key))
  }

  /** A8 (transform.py:174-178): p05/p95 outlier bounds per column.
    * Exact `percentile` (linear interpolation — matches DuckDB
    * `quantile_cont` and pandas default); `percentile_approx` at scale.
    */
  def percentileBounds(df: DataFrame, values: Seq[String], lo: Double = 0.05,
                       hi: Double = 0.95, k: Double = 1.5): DataFrame = {
    require(values.nonEmpty, "percentileBounds requires at least one column")
    val aggs = values.flatMap { v =>
      val q1 = percentile(col(v), lit(lo))
      val q3 = percentile(col(v), lit(hi))
      val iqr = q3 - q1
      Seq(r(q1).as(s"${v}_q_lo"), r(q3).as(s"${v}_q_hi"),
          r(q1 - lit(k) * iqr).as(s"${v}_lb"), r(q3 + lit(k) * iqr).as(s"${v}_ub"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A9 (transform.py:188): exact median per column. */
  def medians(df: DataFrame, values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "medians requires at least one column")
    val aggs = values.map(v => r(median(col(v))).as(s"${v}_median"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A10 (transform.py:181-182): outlier census — count of values outside
    * the p05/p95 ± k·IQR fence. The bounds are themselves aggregates, so the
    * plan is agg → broadcast 1-row cross join → conditional count: two jobs,
    * zero driver collection, broadcast keeps it shuffle-free at any scale.
    */
  def outlierCensus(df: DataFrame, value: String, lo: Double = 0.05,
                    hi: Double = 0.95, k: Double = 1.5): DataFrame = {
    val bounds = df.agg(
      percentile(col(value), lit(lo)).as("q1"),
      percentile(col(value), lit(hi)).as("q3"))
      .select(col("q1"), col("q3"),
        (col("q1") - lit(k) * (col("q3") - col("q1"))).as("lb"),
        (col("q3") + lit(k) * (col("q3") - col("q1"))).as("ub"))
    df.crossJoin(broadcast(bounds))
      .agg(
        sum(when(col(value) < col("lb") || col(value) > col("ub"), 1).otherwise(0)).as("outliers"),
        count(lit(1)).as("total"))
      .select(col("outliers"), col("total"),
              r(col("outliers") / col("total"), 6).as("outlier_rate"))
  }

  /** A11 (weather_pipeline_dag.py:221): distinct values, sorted. */
  def distinctValues(df: DataFrame, key: String): DataFrame =
    df.select(key).distinct().orderBy(key)

  /** A12 (weather_pipeline_dag.py:219-228): simple global means. */
  def globalMeans(df: DataFrame, value: String): DataFrame =
    df.agg(count(lit(1)).as("record_count"),
           stableMean4(col(value)).as("value_mean"),
           r(min(col(value))).as("value_min"),
           r(max(col(value))).as("value_max"))

  /** A13 (analyze.py:441-442): linear-regression aggregate — np.polyfit(x,y,1)
    * as the built-in `regr_slope`/`regr_intercept`/`corr` (single pass,
    * codegen'd, partial-aggregable — no per-partition polyfit).
    */
  def regression(df: DataFrame, x: String, y: String): DataFrame =
    df.agg(r(regr_slope(col(y), col(x)), 6).as("slope"),
           r(regr_intercept(col(y), col(x)), 6).as("intercept"),
           r(corr(col(y), col(x)), 6).as("correlation"),
           count(lit(1)).as("n"))

  /** W1+W2 (analyze.py:246-258): per-group day-over-day diff (lag window)
    * and its summary stats + warming/cooling sign classifier.
    * Daily pre-aggregation first (shrinks the window input by the per-day
    * fan-in), then one window shuffle on the group key. The reference's
    * zero-sum edge ⇒ 'cooling' (analyze.py:257) is preserved: strict `> 0`.
    */
  def trendAnalysis(df: DataFrame, ts: String, key: String, value: String): DataFrame = {
    val daily = df.groupBy(col(key), to_date(col(ts)).as("d"))
      .agg(avg(col(value)).as("v"))
    val w = Window.partitionBy(key).orderBy("d")
    // quantize the diff at 1e-6 before aggregating: the daily means it
    // differences carry ~1e-13 engine/partition drift, and the quantized
    // decimal absorbs it so every agg (incl. the sign classifier, whose
    // telescoped sum must hit an exact 0 for the reference's zero-sum
    // edge) is engine-stable
    val withChg = daily
      .withColumn("chg", (col("v") - lag("v", 1).over(w)).cast("decimal(18,6)"))
      .filter(col("chg").isNotNull)
    withChg.groupBy(key).agg(
        (round(sum(col("chg")).cast("double") / count(lit(1)) * 10000) / 10000.0 + lit(0.0))
          .as("avg_daily_change"),
        r(max(col("chg")).cast("double")).as("max_increase"),
        r(min(col("chg")).cast("double")).as("max_decrease"),
        when(sum(col("chg")) > 0, "warming").otherwise("cooling").as("overall_trend"))
      .orderBy(key)
  }

  /** W3 (analyze.py:371-374): long→wide pivot of the daily mean.
    * Pivot values passed explicitly — avoids the extra distinct-values job
    * Spark otherwise runs, and makes the output schema static (required for
    * the oracle and for any 100 TB plan: an unbounded pivot is a driver
    * OOM).
    */
  def pivotDaily(df: DataFrame, ts: String, key: String, value: String,
                 keyValues: Seq[String]): DataFrame =
    df.groupBy(to_date(col(ts)).as("d"))
      .pivot(key, keyValues)
      .agg(stableMean4(col(value)))
      .select(date_format(col("d"), "yyyy-MM-dd").as("date") +: keyValues.map(col): _*)
      .orderBy("date")

  /** W4 (analyze.py:249): groups with >1 distinct day — HAVING count>1. */
  def multiDayGroups(df: DataFrame, ts: String, key: String): DataFrame =
    df.groupBy(key).agg(countDistinct(to_date(col(ts))).as("n_days"))
      .filter(col("n_days") > 1)
      .orderBy(key)

  /** Batch sessionization (gaps-and-islands): assign a session id per key
    * where a gap > `gapMinutes` of event-time silence starts a new session
    * — the sessions Spark's `session_window` carves, SQL-expressible for
    * the oracle. Two windows over one shuffle AND one sort on the key: both
    * window specs share (key, ts ASC) so the second Window consumes the
    * first's output order directly, and the session summary's group-by
    * rides the same hash partitioning — the whole operator is
    * scan → one exchange → one sort → two Windows → agg, pinned in the
    * plan ledger (docs/plans/w8_sessionize.txt). Growth at ×100 per-user
    * density is the per-user n·log n of that single sort.
    */
  def sessionize(df: DataFrame, key: String, ts: String,
                 gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts)
    val newSession = when(
      col(ts).cast("long") - lag(col(ts), 1).over(w).cast("long") > gapMinutes * 60L, 1
    ).otherwise(0)
    df.withColumn("__new", newSession)
      .withColumn("session_id", sum(col("__new")).over(
        Window.partitionBy(key).orderBy(ts)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .drop("__new")
  }

  /** Per-key session summary built on [[sessionize]]. */
  def sessionSummary(df: DataFrame, key: String, ts: String, value: String,
                     gapMinutes: Int = 30): DataFrame =
    sessionize(df, key, ts, gapMinutes)
      .groupBy(col(key), col("session_id"))
      .agg(count(lit(1)).as("n"),
           date_format(min(col(ts)), "yyyy-MM-dd HH:mm:ss").as("session_start"),
           date_format(max(col(ts)), "yyyy-MM-dd HH:mm:ss").as("session_end"),
           stableMean4(col(value)).as("value_mean"))

  /** [[sessionSummary]]'s raw per-session state — (key, session_id, n,
    * nv, vsum, start_ts, end_ts): the aggregates the summary is a pure
    * projection of ([[sessionPublish]]), and the standing frame
    * [[sessionsApplyBatch]] folds new batches into. `vsum` is the
    * decimal-staged value sum pinned at decimal(38,6) so merge
    * additions stay exact and the schema is fold-stable; `nv` is the
    * non-null value count ([[stableMean4]]'s denominator — `n` counts
    * rows).
    */
  def sessionState(df: DataFrame, key: String, ts: String, value: String,
                   gapMinutes: Int = 30): DataFrame =
    sessionize(df, key, ts, gapMinutes)
      .groupBy(col(key), col("session_id"))
      .agg(count(lit(1)).as("n"), count(col(value)).as("nv"),
        sum(col(value).cast("decimal(18,6)")).cast("decimal(38,6)").as("vsum"),
        min(col(ts)).as("start_ts"), max(col(ts)).as("end_ts"))

  /** Present a [[sessionState]] frame in [[sessionSummary]]'s published
    * shape — bit-equal to the one-shot summary: decimal addition is
    * exact, so the widened `vsum` casts to the identical double the
    * one-shot decimal sum would.
    */
  def sessionPublish(state: DataFrame, key: String): DataFrame =
    state.select(col(key), col("session_id"), col("n"),
      date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
      date_format(col("end_ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
      (round(col("vsum").cast("double") / col("nv") * 10000) / 10000.0
        + lit(0.0)).as("value_mean"))

  /** Incremental sessionization — the w18/g9 "only the batch pays"
    * pattern applied to [[sessionSummary]]: fold a NEW batch of events
    * into a standing [[sessionState]] without re-scanning the
    * historical log. Under the append-only contract only each key's
    * LAST session can extend (every earlier session already sits behind
    * a silence longer than the gap, and new rows are all later), so the
    * windowed pass runs over seed ∪ batch rows only: the last session
    * re-enters as ONE pseudo-row at its end timestamp (null tie — sorts
    * before any real row at the same instant), the gap flags and
    * running session offsets compute exactly as the one-shot pass would
    * at the boundary, the first segment's aggregates MERGE into the
    * seed session's (exact decimal addition) and later segments append
    * as new sessions at `session_id = last + offset`. Untouched state
    * rows — and a touched key's last session when its first batch row
    * opens a NEW session — pass through scan-only.
    *
    * Late rows follow the (ts, tie) frontier discipline of
    * [[graft.analyze.Lifecycle.scd2ApplyBatchFrontier]]: rows at or
    * before the frontier drop. Under the append-only contract, folding
    * any (ts, tie)-split of the log batch-by-batch reproduces the
    * one-shot [[sessionState]] EXACTLY in any split geometry (the w20
    * oracle replays the one-shot SQL over the full log; AnalyticsSpec
    * gates random multi-way splits).
    *
    * Returns (state, frontier), both folded forward per batch — seed
    * the first from [[sessionState]] +
    * [[graft.analyze.Lifecycle.scd2Frontier]]. Scale shape: pass-through
    * is state-sized and scan-only, the window pass is seed∪batch-sized,
    * the frontier one grouped max over frontier ∪ batch — never
    * log-sized.
    */
  def sessionsApplyBatch(state: DataFrame, frontier: DataFrame,
                         batch: DataFrame, key: String, ts: String,
                         value: String, tie: String,
                         gapMinutes: Int = 30): (DataFrame, DataFrame) = {
    require(state.columns.toSeq ==
      Seq(key, "session_id", "n", "nv", "vsum", "start_ts", "end_ts"),
      s"state must be a ($key, session_id, n, nv, vsum, start_ts, end_ts) " +
        s"frame (sessionState's shape); got ${state.columns.mkString(", ")}")
    require(frontier.columns.toSeq == Seq(key, ts, tie),
      s"frontier must be a ($key, $ts, $tie) frame (scd2Frontier's shape); " +
        s"got ${frontier.columns.mkString(", ")}")
    val f = frontier.select(col(key), col(ts).as("__fts"), col(tie).as("__ftie"))
    // both frames are referenced several times below (route, seed,
    // merge, pass-through); materialize ONCE so each fold pays one
    // batch-sized and one state-sized evaluation — not one per
    // reference (the und/labels checkpoint discipline)
    val live = batch.select(col(key), col(ts), col(tie), col(value))
      .join(f, Seq(key), "left")
      .filter(col("__fts").isNull || col(ts) > col("__fts") ||
        (col(ts) === col("__fts") && col(tie) > col("__ftie")))
      .drop("__fts", "__ftie")
      .localCheckpoint()
    val touched = live.select(col(key)).distinct()
    val openMark = max(col("session_id")).over(Window.partitionBy(col(key)))
    val marked = state.withColumn("__mx", openMark)
      .join(touched.withColumn("__t", lit(1)), Seq(key), "left")
      .localCheckpoint()
    val pass = marked
      .filter(col("__t").isNull || col("session_id") =!= col("__mx"))
      .drop("__mx", "__t")
    val open = marked
      .filter(col("__t").isNotNull && col("session_id") === col("__mx"))
      .drop("__mx", "__t")
    val seed = open.select(col(key), col("end_ts").as(ts),
      lit(null).cast(batch.schema(tie).dataType).as(tie),
      lit(null).cast(batch.schema(value).dataType).as(value),
      lit(1).as("__seed"))
    val wp = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val flagged = seed.unionByName(live.withColumn("__seed", lit(0)))
      .withColumn("__nw", when(col(ts).cast("long") -
        lag(col(ts), 1).over(wp).cast("long") > gapMinutes * 60L, 1).otherwise(0))
      .withColumn("__r", sum(col("__nw")).over(
        wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val g = flagged.filter(col("__seed") === 0)
      .groupBy(col(key), col("__r"))
      .agg(count(lit(1)).as("__n"), count(col(value)).as("__nv"),
        sum(col(value).cast("decimal(18,6)")).cast("decimal(38,6)").as("__vs"),
        min(col(ts)).as("__min"), max(col(ts)).as("__max"))
    val withOpen = g.join(open.select(col(key),
        col("session_id").as("__sid0"), col("n").as("__n0"),
        col("nv").as("__nv0"), col("vsum").as("__vs0"),
        col("start_ts").as("__st0")), Seq(key), "left")
    val merging = col("__sid0").isNotNull && col("__r") === 0
    val dec0 = lit(0).cast("decimal(38,6)")
    val folded = withOpen.select(col(key),
      (coalesce(col("__sid0"), lit(0L)) + col("__r")).as("session_id"),
      when(merging, col("__n0") + col("__n")).otherwise(col("__n")).as("n"),
      when(merging, col("__nv0") + col("__nv")).otherwise(col("__nv")).as("nv"),
      when(merging,
        when(col("__vs0").isNull && col("__vs").isNull,
          lit(null).cast("decimal(38,6)"))
          .otherwise(coalesce(col("__vs0"), dec0) + coalesce(col("__vs"), dec0)))
        .otherwise(col("__vs")).cast("decimal(38,6)").as("vsum"),
      when(merging, col("__st0")).otherwise(col("__min")).as("start_ts"),
      col("__max").as("end_ts"))
    // a touched key whose first batch row opened a NEW session never
    // produced a merge row — its last session passes through unchanged
    val openUnmerged = open.join(
      withOpen.filter(merging).select(col(key)), Seq(key), "left_anti")
    val nextState = pass.unionByName(openUnmerged).unionByName(folded)
    val nextFrontier = graft.analyze.Lifecycle.scd2Frontier(
      frontier.unionByName(live.select(col(key), col(ts), col(tie))),
      key, ts, tie)
    (nextState, nextFrontier)
  }

  /** Unkeyed interval join, COUNT flavor: for each [[sessionize]]d session
    * interval, the number of events CORPUS-WIDE (any key) whose timestamp
    * falls inside [session_start, session_end] — the concurrency census a
    * capacity/abuse analysis runs over sessions.
    *
    * An unkeyed `ts BETWEEN st AND en` join is a nested-loop (cartesian)
    * plan in Spark, and the naive fix — explode intervals to covered days
    * and equi-join events by day — streams |interval-days| × |events/day|
    * rows (~10⁸ already at sf0.1; quadratic in density). This instead
    * decomposes each interval exactly:
    *
    *   n_overlap = G(en) − G(st⁻) + [different days: cnt(st_day) + Σ interior day counts]
    *
    * where G(t) = #events on day(t) with ts ≤ t. Interior-day sums come
    * from a broadcast of the O(days) daily counts; the two boundary ranks
    * per session come from ONE cumulative-count window over the
    * day-partitioned union of events and boundary probes — the as-of
    * join's tagged-union trick (see [[asofJoin]]) generalized to rank
    * queries, with the tag ordering (lo=0 < event=1 < hi=2) making the
    * lower bound exclusive of ties and the upper inclusive, matching
    * BETWEEN. Cost: one shuffle of events on day + a per-day sort —
    * O(N log day-size), never O(N × sessions). At 100 TB the bin unit
    * (day here) would shrink to hours for denser streams: the window
    * partition is the bin, so bin size bounds both sort memory and the
    * skew a hot bin can concentrate.
    */
  def sessionOverlapCount(df: DataFrame, key: String, ts: String,
                          gapMinutes: Int = 1440): DataFrame = {
    val keyType = df.schema(key).dataType
    val sess = sessionize(df, key, ts, gapMinutes)
      .groupBy(col(key), col("session_id"))
      .agg(min(col(ts)).as("st"), max(col(ts)).as("en"))
    val daily = df.groupBy(to_date(col(ts)).as("day")).agg(count(lit(1)).as("day_cnt"))

    // full days strictly inside (st_day, en_day): broadcast the tiny
    // daily-count table; sessions spanning < 3 days contribute nothing
    val interior = sess.select(col(key), col("session_id"),
        explode(filter(sequence(to_date(col("st")), to_date(col("en"))),
          d => d > to_date(col("st")) && d < to_date(col("en")))).as("day"))
      .join(broadcast(daily), "day")
      .groupBy(col(key), col("session_id"))
      .agg(sum(col("day_cnt")).as("interior_cnt"))

    // boundary ranks: per-day cumulative event count at each probe ts.
    // Both probes ride ONE reference to `sess` (explode of a 2-struct
    // array) and carry st/en through the rank group-by, so the final
    // result joins off `ranks` — the session window subtree is expanded
    // twice in this plan (probes + interior), not four times. (In a
    // standing pipeline sess would be a materialized artifact anyway.)
    val probes = sess.select(col(key), col("session_id"), col("st"), col("en"),
        explode(array(
          struct(col("st").as("bts"), lit(0).as("side"), lit("lo").as("typ")),
          struct(col("en").as("bts"), lit(2).as("side"), lit("hi").as("typ")))).as("p"))
      .select(col(key), col("session_id"), col("st"), col("en"),
        to_date(col("p.bts")).as("day"), col("p.bts").as("bts"),
        col("p.side").as("side"), lit(0L).as("one"), col("p.typ").as("typ"))
    val tagged = probes
      .unionByName(df.select(
        lit(null).cast(keyType).as(key), lit(null).cast("long").as("session_id"),
        lit(null).cast("timestamp").as("st"), lit(null).cast("timestamp").as("en"),
        to_date(col(ts)).as("day"), col(ts).as("bts"),
        lit(1).as("side"), lit(1L).as("one"), lit(null).cast("string").as("typ")))
    val ranks = tagged
      .withColumn("g", sum(col("one")).over(
        Window.partitionBy(col("day")).orderBy(col("bts"), col("side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("typ").isNotNull)
      .groupBy(col(key), col("session_id"))
      .agg(max(col("st")).as("st"), max(col("en")).as("en"),
           max(when(col("typ") === "lo", col("g"))).as("g_lo"),
           max(when(col("typ") === "hi", col("g"))).as("g_hi"))

    ranks
      .join(broadcast(daily.withColumnRenamed("day", "sday")
        .withColumnRenamed("day_cnt", "st_day_cnt")), to_date(col("st")) === col("sday"))
      .join(interior, Seq(key, "session_id"), "left")
      .select(col(key), col("session_id"),
        date_format(col("st"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("en"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        (col("g_hi") - col("g_lo") +
          when(to_date(col("st")) === to_date(col("en")), lit(0L))
            .otherwise(col("st_day_cnt") + coalesce(col("interior_cnt"), lit(0L))))
          .cast("long").as("n_overlap"))
  }

  /** Rank family coverage (SURVEY §2.5 notes the reference has none):
    * dense_rank + ntile quartile per group over the daily mean.
    *
    * Ranks order by the PUBLISHED stable mean (the scaled-round decimal
    * form), not the raw double daily average: ranking on the raw double
    * would let a 1-ULP cross-engine/partition-order drift flip the rank of
    * two equal-mean days — the rounded key makes equal published means
    * compare equal on every engine, and the date tiebreak keeps the order
    * total.
    */
  def rankAndNtile(df: DataFrame, ts: String, key: String, value: String,
                   buckets: Int = 4): DataFrame = {
    val daily = df.groupBy(col(key), to_date(col(ts)).as("d"))
      .agg(stableMean4(col(value)).as("value_mean"))
    val w = Window.partitionBy(key).orderBy(col("value_mean").desc, col("d").asc)
    daily.select(
      date_format(col("d"), "yyyy-MM-dd").as("date"), col(key),
      col("value_mean"),
      dense_rank().over(w).cast("long").as("rnk"),
      ntile(buckets).over(w).cast("long").as("quartile"))
  }

  /** As-of (point-in-time) join — for each left row, the single latest
    * right row with right.ts <= left.ts within the same key (the canonical
    * time-series enrichment operator; Spark has no built-in, DuckDB spells
    * it ASOF JOIN).
    *
    * Spark-first realization (custom-operator ladder (a): compose built-in
    * ops): tag both sides, UNION them, and run one `last(_, ignoreNulls)`
    * window ordered by (ts, side) per key — right rows sort before left
    * rows at equal ts, so the match is inclusive. ONE shuffle on the key,
    * no range-explosion, no per-row subquery; at 100 TB this is a single
    * sort-based window over the co-partitioned union, which beats any
    * equi+filter range join by orders of magnitude when right is dense.
    * Right (key, ts) pairs must be unique for determinism (true for event
    * streams keyed at ns precision; add a tiebreaker column otherwise).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
               valueCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val l = left.withColumn("__is_l", lit(1))
    val r = right.select(keys.map(col) ++ Seq(col(tsCol)) ++
        valueCols.map(c => col(c).as(prefix + c)): _*)
      .withColumn("__is_l", lit(0))
    val combined = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__is_l").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(combined) { (d, c) =>
        d.withColumn(prefix + c, last(col(prefix + c), ignoreNulls = true).over(w))
      }
      .filter(col("__is_l") === 1)
      .drop("__is_l")
  }

  /** Skew-resistant aggregation (100 TB posture, SURVEY §4.2 "salting for
    * skew"): two-stage group-by with a random-free deterministic salt
    * derived from a secondary column's hash. Works for any decomposable
    * aggregate; exposed for sum/count/avg. AQE's skew handling covers
    * joins, but a single hot GROUP BY key still funnels into one reducer —
    * salting splits it across `salt` reducers, then merges partials.
    * Results are identical to the direct aggregation (spec-asserted).
    */
  def saltedAgg(df: DataFrame, key: String, value: String, salt: Int = 16): DataFrame = {
    // salt from the partition id, NOT from the value: a hot key with
    // constant/low-cardinality values would otherwise hash to one salt and
    // get no skew relief. The final merge is value-order-free (sum/count),
    // so partition-dependent salting never changes the result.
    val salted = df.withColumn("__salt", pmod(spark_partition_id(), lit(salt)))
    val partial = salted.groupBy(col(key), col("__salt"))
      .agg(sum(col(value).cast("decimal(18,6)")).as("__sum"), count(lit(1)).as("__n"))
    partial.groupBy(col(key))
      .agg(round(sum(col("__sum")), 4).cast("double").as("value_sum"),
           sum(col("__n")).as("n"),
           (round(sum(col("__sum")).cast("double") / sum(col("__n")) * 10000) / 10000.0
             + lit(0.0)).as("value_mean"))
  }

  /** W5 (extension — SURVEY §2.5 notes rolling averages as the natural
    * frame-spec extension the reference lacks): per-group trailing N-day
    * moving average over the daily mean. Daily pre-aggregation shrinks the
    * window input; one shuffle on the group key; the rows-frame is
    * deterministic because (key, date) is a total order.
    */
  def rollingAvg(df: DataFrame, ts: String, key: String, value: String,
                 days: Int = 7): DataFrame = {
    val daily = df.groupBy(col(key), to_date(col(ts)).as("d"))
      .agg(avg(col(value)).as("v"), stableMean4(col(value)).as("value_mean"))
    val w = Window.partitionBy(key).orderBy("d").rowsBetween(-(days - 1), 0)
    daily.withColumn("rolling_mean", r(avg(col("v")).over(w)))
      .select(date_format(col("d"), "yyyy-MM-dd").as("date"), col(key),
              col("value_mean"), col("rolling_mean"))
      .orderBy(col(key), col("date"))
  }

  /** Trailing time-RANGE rolling aggregate (extension): per key, for every
    * event, the count and exact decimal sum of values in the trailing
    * `rangeSeconds` of EVENT TIME — a RANGE frame over the epoch, not a
    * ROWS frame, so sparse/bursty keys aggregate their true time window
    * regardless of row density (rowsBetween cannot express this). The
    * frame sum accumulates in decimal so sliding-frame arithmetic (Spark's
    * incremental add vs an oracle's segment tree) cannot drift.
    */
  def rangeRolling(df: DataFrame, key: String, ts: String, value: String,
                   rangeSeconds: Long): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(unix_timestamp(col(ts)))
      .rangeBetween(-rangeSeconds, 0)
    df.select(col(key), col(ts),
        count(lit(1)).over(w).as("n_window"),
        round(sum(col(value).cast("decimal(18,6)")).over(w), 2)
          .cast("double").as("window_sum"))
      .withColumn(ts, date_format(col(ts), "yyyy-MM-dd HH:mm:ss"))
  }

  /** Rolling distinct actives (DAU + trailing-window AU, the engagement
    * census): per observed day, the distinct-key count that day and over
    * the trailing `windowDays`. Sliding DISTINCT cannot ride a window
    * frame (distinct doesn't decompose); the scalable identity is
    * contribution-explode: each distinct (key, day) pair contributes to
    * the `windowDays` days it is visible from, and a plain per-day
    * distinct count of the exploded frame IS the rolling distinct. Cost:
    * the (key, day) dedup (one shuffle, map-side partial), a bounded ×w
    * explode of that already-small frame, one count-distinct per day —
    * never a per-event window, never state proportional to raw events.
    * Days with no events never appear (join back to observed days), which
    * also keeps leading partial windows honest.
    */
  def rollingActiveUsers(df: DataFrame, ts: String, key: String,
                         windowDays: Int = 7): DataFrame = {
    val ud = df.select(to_date(col(ts)).as("day"), col(key).as("u")).distinct()
    val days = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("u")).as("dau"))
    val wau = ud
      .select(col("u"), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("day"))
      .join(days, "day")
      .groupBy(col("day"))
      .agg(countDistinct(col("u")).as("wau"))
    dau.join(wau, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("date"),
        col("dau").cast("long").as("dau"),
        col("wau").cast("long").as(s"active_${windowDays}d"))
  }

  /** Rolling z-score anomaly flags: per key, each event scored against
    * the TRAILING `lookback` rows (excluding itself — the score must not
    * contaminate its own baseline). Mean and variance derive from
    * decimal-exact frame sums (Σx, Σx², both DECIMAL) — a double frame
    * sum would expose the engine's sliding-frame accumulation order
    * (incremental add vs segment tree) as 1-ULP drift, the same reason
    * [[rangeRolling]] sums in decimal. Variance via the algebraic
    * E[x²] − E[x]² identity computed in DOUBLE from the exact sums: both
    * engines then evaluate the identical IEEE expression. Warm-up rows
    * (frame < minObs) and zero-variance frames yield null z.
    */
  def rollingZScore(df: DataFrame, key: String, ts: String, value: String,
                    idCol: String = "event_id", lookback: Int = 20,
                    minObs: Int = 5, zThreshold: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col(idCol))
      .rowsBetween(-lookback, -1)
    val dec = col(value).cast("decimal(18,6)")
    val scored = df
      .withColumn("__n", count(col(value)).over(w))
      .withColumn("__s", sum(dec).over(w))
      .withColumn("__s2", sum(dec * dec).over(w))
      .withColumn("__mu", col("__s").cast("double") / col("__n"))
      .withColumn("__var",
        col("__s2").cast("double") / col("__n") - col("__mu") * col("__mu"))
      .withColumn("z",
        when(col("__n") >= minObs && col("__var") > 0,
          round((col(value) - col("__mu")) / sqrt(col("__var")), 4)))
    scored.select(col(idCol), col(key),
      date_format(col(ts), "yyyy-MM-dd HH:mm:ss").as(ts), col(value),
      col("z"), (abs(col("z")) > zThreshold).as("is_anomaly"))
  }

  /** Rollup summary (extension — SURVEY §2.4 notes grouping sets as a
    * built-in away): subtotals per (k1, k2), per k1, and grand total.
    * Subtotal rows are labelled via the `grouping()` indicator, NOT
    * `coalesce` — a genuine null key value must stay distinguishable from
    * a rollup subtotal or the two collapse into conflicting 'ALL' rows.
    */
  def rollupSummary(df: DataFrame, k1: String, k2: String, value: String): DataFrame =
    df.rollup(col(k1), col(k2))
      .agg(r(sum(col(value)), 2).as("value_sum"), count(lit(1)).as("n"),
           grouping(col(k1)).as("__g1"), grouping(col(k2)).as("__g2"))
      .select(when(col("__g1") === 1, lit("ALL")).otherwise(col(k1)).as(k1),
              when(col("__g2") === 1, lit("ALL")).otherwise(col(k2)).as(k2),
              col("value_sum"), col("n"))

  /** Cube summary: all 2^k grouping-set combinations with 'ALL' labels
    * via grouping() (same null-vs-subtotal discipline as rollupSummary).
    */
  def cubeSummary(df: DataFrame, k1: String, k2: String, value: String): DataFrame =
    df.cube(col(k1), col(k2))
      .agg(r(sum(col(value)), 2).as("value_sum"), count(lit(1)).as("n"),
           grouping(col(k1)).as("__g1"), grouping(col(k2)).as("__g2"))
      .select(when(col("__g1") === 1, lit("ALL")).otherwise(col(k1)).as(k1),
              when(col("__g2") === 1, lit("ALL")).otherwise(col(k2)).as(k2),
              col("value_sum"), col("n"))

  /** O4/A3-style top-k per group. `tieBreakers` must make
    * (value desc, tieBreakers asc) a total order within each group —
    * rank over a non-total order is nondeterministic (SURVEY §5.2).
    *
    * Implemented as a bounded-heap aggregate (`o.a.s.sql.graft.TopKRows`),
    * NOT a row_number window: the window formulation — even with Spark's
    * partial `WindowGroupLimit` — must fully SORT every partition of the
    * input twice (map and reduce side) because `WindowGroupLimitExec`
    * requires (group, order)-sorted children. The heap is one O(N log k)
    * scan whose per-row common case is a single compare against the heap
    * head; only groups×k survivor rows reach the shuffle. Same output
    * contract: every input column plus `rnk` (int, 1-based row_number
    * semantics under the stated total order) — `topKPerGroupWindow` below
    * is the reference formulation the spec checks parity against.
    *
    * For a global top-k at 100 TB prefer `orderBy(desc).limit(k)` — Spark's
    * TakeOrderedAndProject is the same bounded-heap idea built in.
    */
  def topKPerGroup(df: DataFrame, group: String, value: String, k: Int,
                   tieBreakers: Seq[String]): DataFrame = {
    require(tieBreakers.nonEmpty, "topKPerGroup needs a deterministic tie-break key")
    val ordCols = value +: tieBreakers
    val rest = df.columns.toSeq.filterNot(c => c == group || ordCols.contains(c))
    val packed = (ordCols ++ rest).map(col)
    val descFlags = true +: tieBreakers.map(_ => false)
    df.groupBy(col(group))
      .agg(org.apache.spark.sql.graft.TopKFunctions
        .topKRows(struct(packed: _*), k, descFlags).as("__top"))
      .select(col(group), posexplode(col("__top")).as(Seq("__pos", "__row")))
      .select(df.columns.map(c =>
          if (c == group) col(group) else col(s"__row.$c").as(c)) :+
        (col("__pos") + 1).as("rnk"): _*)
  }

  /** Window reference formulation of `topKPerGroup` — kept for the parity
    * spec (heap == window on any total order) and as the fallback when the
    * input is already (group, order)-clustered so the sorts are free.
    */
  def topKPerGroupWindow(df: DataFrame, group: String, value: String, k: Int,
                         tieBreakers: Seq[String]): DataFrame = {
    require(tieBreakers.nonEmpty, "topKPerGroup needs a deterministic tie-break key")
    val w = Window.partitionBy(group)
      .orderBy(col(value).desc +: tieBreakers.map(col(_).asc): _*)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}
