package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SpaceSavingBuffer
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** Structured Streaming layer (SURVEY §2.10). The reference's "real-time"
  * story is a daily cron (airflow/weather_pipeline_dag.py:35); here the same
  * computations run as true streams: event-time windows + watermarks replace
  * calendar-date batch group-bys, `dropDuplicatesWithinWatermark` replaces
  * the reference's absent dedup (its transform re-reads ALL raw files, so
  * duplicate polls produce duplicate rows — transform.py:64-66), and
  * stream-static joins replace extract-time denormalization
  * (extract.py:124-127).
  *
  * Scale posture: all stateful operators key their state by the grouping
  * key and bound it with watermarks — state size is O(active keys ×
  * windows-in-watermark), independent of total stream length. Every keyed
  * state operator runs on one evicting fold ([[evictingFold]]), and every
  * batch-at-a-time sink on one micro-batch bridge ([[microBatches]]), so
  * each micro-batch reuses the batch operators, writers and partitioning.
  */
object Streaming {

  /** File-based streaming source over a parquet directory with a fixed
    * schema (never inferred — SURVEY §1.2). Batch twin: Tables.apply.
    * In production the same plan reads Kafka; the transforms below are
    * source-agnostic.
    */
  def parquetStream(spark: SparkSession, path: String, schema: StructType,
                    maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** A4 as a stream: tumbling event-time window (default 1 day = the
    * reference's calendar-date rollup, analyze.py:239-243) with a watermark
    * bounding state. Late rows beyond `lateness` are dropped — the batch
    * path has no such cutoff, which is exactly the semantic delta a stream
    * must declare (SURVEY §7.4 risk 4).
    */
  def windowedAgg(stream: DataFrame, ts: String, key: String, value: String,
                  window: String = "1 day", lateness: String = "1 hour",
                  setWatermark: Boolean = true,
                  slide: Option[String] = None): DataFrame =
    // setWatermark=false when an upstream stateful operator (e.g.
    // dedupWithinWatermark) already declared the watermark on `ts` —
    // redefining it above a second stateful operator is disallowed.
    // slide=Some(s) makes the window SLIDING (each event contributes to
    // window/s overlapping windows); None = tumbling.
    (if (setWatermark) stream.withWatermark(ts, lateness) else stream)
      .groupBy(functions.windowCol(col(ts), window, slide), col(key))
      .agg(
        avg(col(value)).as("value_mean"),
        min(col(value)).as("value_min"),
        max(col(value)).as("value_max"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col(key), col("value_mean"), col("value_min"), col("value_max"), col("n"))

  private object functions {
    // window() name-clashes with expressions.Window in wildcard imports;
    // isolate the builtin call.
    def windowCol(ts: org.apache.spark.sql.Column, w: String,
                  slide: Option[String] = None): org.apache.spark.sql.Column =
      slide match {
        case Some(s) => org.apache.spark.sql.functions.window(ts, w, s)
        case None => org.apache.spark.sql.functions.window(ts, w)
      }
  }

  /** Session windows (north-star extension, no reference counterpart):
    * per-key activity sessions closed after `gap` of event-time silence.
    * State per key is bounded by the watermark like windowedAgg.
    */
  def sessionAgg(stream: DataFrame, ts: String, key: String, value: String,
                 gap: String = "30 minutes", lateness: String = "1 hour"): DataFrame =
    stream
      .withWatermark(ts, lateness)
      .groupBy(session_window(col(ts), gap), col(key))
      .agg(count(lit(1)).as("n"), avg(col(value)).as("value_mean"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col(key), col("n"), col("value_mean"))

  /** Streaming dedup keyed on (keys...) within the watermark — the
    * north-star fix for the reference's duplicate-poll duplication
    * (SURVEY §2.10). State is bounded by the watermark delay.
    */
  def dedupWithinWatermark(stream: DataFrame, ts: String, lateness: String,
                           keys: Seq[String]): DataFrame =
    stream.withWatermark(ts, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup dedup within the watermark: the state key is the
    * record's 64-bit SimHash signature of `textCol` (the SAME native
    * SimHash64 expression the batch near-dup surface keys on —
    * [[graft.dedup.Dedup.simhash]]), optionally scoped by `extraKeys`.
    * Exact-key dedup misses the reference's real idempotence gap: a
    * re-poll re-serializes the SAME observation with cosmetic differences
    * (jittered capture timestamp, reordered/extra metadata tokens —
    * transform.py:64-66 re-reads ALL raw files), so no exact column set
    * matches the redelivery. A token-majority signature is stable under
    * those edits; a redelivered near-identical record therefore hits the
    * same state key and is dropped, with state still bounded by the
    * watermark delay. Batch twin: grouping the same records by
    * `Dedup.simhash(text)` keeps the same survivors (StreamingSpec pins
    * the parity).
    *
    * The signature rides the dedup as a derived column and is dropped
    * after — downstream schema is unchanged.
    *
    * CONTRACT — signature dedup, not equality dedup: any two records
    * whose (extraKeys, SimHash) coincide inside the watermark are
    * treated as one, so `textCol` must carry enough entropy to make a
    * coincidence mean "same observation" (use `extraKeys` to scope the
    * state key when it doesn't — e.g. two cities legitimately sharing a
    * description string must be split by the city key). The converse
    * bound: SimHash is a token-majority vote, so on very SHORT texts
    * (2-3 tokens) a single extra token can flip signature bits and a
    * true redelivery survives — the signature branch is for record-sized
    * payloads (the reference's re-serialized observation JSON), not
    * two-word labels.
    */
  def nearDupDedupWithinWatermark(stream: DataFrame, ts: String, lateness: String,
                                  textCol: String,
                                  extraKeys: Seq[String] = Nil): DataFrame =
    stream.withColumn("__simhash", graft.dedup.Dedup.simhash(col(textCol)))
      .withWatermark(ts, lateness)
      .dropDuplicatesWithinWatermark(extraKeys :+ "__simhash")
      .drop("__simhash")

  /** Stream ⋈ static dimension (broadcast): the streaming analog of the
    * reference's extract-time city enrichment (extract.py:124-127). The
    * dim is broadcast per micro-batch; no stream-side shuffle.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: match right rows to left rows on `key`
    * when the right event time falls within [left - within, left]. Both
    * sides carry watermarks so the join state is bounded (Spark purges
    * buffered rows once they can no longer match). Column names must be
    * disjoint apart from the key.
    *
    * `joinType` "inner" (default) or "left_outer": outer emits the
    * unmatched left row with null right columns once the watermark proves
    * no match can still arrive — the harder semantics (results for a left
    * row are withheld until its join window expires).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   within: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, within)
    val r = right.withWatermark(rightTs, within).withColumnRenamed(key, "__rkey")
    l.join(r,
      col(key) === col("__rkey") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $within") &&
        col(rightTs) <= col(leftTs),
      joinType).drop("__rkey")
  }

  /** Per-key running day-over-day change (the streaming twin of W1
    * trendAnalysis, analyze.py:246-251) via flatMapGroupsWithState:
    * state = last (date, daily-sum, daily-count) per key; emits one change
    * row per completed day. State is O(1) per key.
    *
    * Input must be a Dataset[(key, date, value)]; event-time ordering
    * within a key is the caller's contract (use after a windowed agg in
    * append mode, which emits each day once its watermark closes).
    */
  case class DayObs(key: String, date: java.sql.Date, value: Double)
  case class DayState(lastDate: java.sql.Date, lastValue: Double)
  case class DayChange(key: String, date: java.sql.Date, change: Double)

  /** Safe timeout target for EventTimeTimeout: Spark rejects a timeout at
    * or before the current watermark, and batch execution (where these
    * operators also run, watermark-less) throws
    * UnsupportedOperationException on getCurrentWatermarkMs /
    * setTimeoutTimestamp — clamp the former, swallow ONLY that exception
    * on the latter. Any other failure propagates: a genuine streaming
    * misconfiguration silently disabling eviction would restore exactly
    * the unbounded state growth this helper exists to prevent.
    */
  private def safeSetTimeout[S](state: GroupState[S], desiredMs: Long): Unit = {
    val wm =
      try state.getCurrentWatermarkMs()
      catch { case _: UnsupportedOperationException => Long.MinValue }
    try state.setTimeoutTimestamp(math.max(desiredMs, wm + 1))
    catch { case _: UnsupportedOperationException => () } // batch mode: no timeouts
  }

  // Event-time-carrying twins of the state-operator inputs: the watermarked
  // column must SURVIVE into the flatMapGroupsWithState child's output for
  // EventTimeTimeout to be accepted (UnsupportedOperationChecker looks for
  // the delay-key metadata on an output attribute — a Project that drops it
  // hides the watermark), so the typed row carries `__et` alongside the
  // payload instead of dropping it.
  case class DayObsEt(key: String, date: java.sql.Date, value: Double,
                      __et: java.sql.Timestamp)
  case class KeyDayEt(key: Long, day: Int, __et: java.sql.Timestamp)
  case class StageEventEt(key: Long, tMicros: Long, stage: Int,
                          __et: java.sql.Timestamp)

  /** The one evicting fold under every keyed twin below: `rows` are
    * watermarked on `eventTime` (delay `lateness`), grouped by `key`, and
    * folded by `flatMapGroupsWithState(Append, EventTimeTimeout)`.
    *
    *  - A key with new rows gets `fold(key, rows sorted by order, held
    *    state)`, which returns the key's next state, the event time (epoch
    *    ms) after which that state is evicted, and the rows to emit.
    *  - A key whose deadline the watermark has passed emits
    *    `flush(key, state)`, and its state is removed.
    *
    * So state is bounded by ACTIVE keys, not lifetime distinct keys. Spark
    * drops rows older than the current watermark before they reach the
    * fold (FlatMapGroupsWithStateExec applies
    * applyRemovingRowsOlderThanWatermark): an event arriving more than
    * `lateness` behind the max seen event time never updates state.
    */
  private def evictingFold[K: Encoder, V, S: Encoder, O: Encoder](
      rows: Dataset[V], eventTime: String, lateness: String)(
      key: V => K, order: Ordering[V])(
      fold: (K, Seq[V], Option[S]) => (S, Long, Seq[O]),
      flush: (K, S) => Option[O] = (_: K, _: S) => None): Dataset[O] =
    rows.withWatermark(eventTime, lateness).groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, group: Iterator[V], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.flatMap(flush(k, _))
            state.remove()
            out.iterator
          } else {
            val (next, deadlineMs, out) = fold(k, group.toSeq.sorted(order), state.getOption)
            state.update(next)
            safeSetTimeout(state, deadlineMs)
            out.iterator
          }
      }

  /** Per-key running day-over-day change with WATERMARK-DRIVEN EVICTION
    * ([[evictingFold]]): a key idle for more than `stateTtlDays` (> 0) of
    * event time has its (lastDate, lastValue) dropped. Documented
    * post-eviction semantics: a key that returns after a silence longer
    * than the TTL emits NO change row for its comeback day (there is
    * nothing to diff against — same as a brand new key); diffs resume
    * from the next day. `lateness` is the watermark delay on the derived
    * event-time column (date at midnight): an event arriving more than
    * `lateness` behind the max seen event time never updates state. A row
    * older than the HELD day that still reaches the fold (inside
    * `lateness`) is dropped too — folding it would emit a backward diff
    * and rewind state. Widen `lateness` AND deliver in event-time order
    * if late replays must count.
    */
  def runningDailyChange(ds: Dataset[DayObs],
                         stateTtlDays: Int = 30,
                         lateness: String = "1 day"): Dataset[DayChange] = {
    require(stateTtlDays > 0, s"stateTtlDays must be positive, got $stateTtlDays")
    import ds.sparkSession.implicits._
    evictingFold(ds.withColumn("__et", col("date").cast("timestamp")).as[DayObsEt],
        "__et", lateness)(_.key, Ordering.by(_.date.getTime))(
      (key, rows, held: Option[DayState]) => {
        var st = held
        val out = ArrayBuffer.empty[DayChange]
        rows.foreach { o =>
          st match {
            // a late row older than the held day is dropped, never
            // folded: diffing it would emit a bogus BACKWARD change
            // and rewind state to the stale day, diverging from the
            // batch lag (same contract as scd2Stream's mid-run
            // guard; widen `lateness` + deliver in order if such
            // replays must count)
            case Some(prev) if o.date.getTime >= prev.lastDate.getTime =>
              if (o.date.getTime != prev.lastDate.getTime)
                out += DayChange(key, o.date, o.value - prev.lastValue)
              st = Some(DayState(o.date, o.value))
            case Some(_) => // pre-state late row: dropped (contract)
            case None =>
              st = Some(DayState(o.date, o.value))
          }
        }
        (st.get, st.get.lastDate.getTime + stateTtlDays * 86400000L, out.toSeq)
      })
  }

  /** Input/output rows of [[scd2Stream]] — the streaming twin of
    * [[graft.analyze.Lifecycle.scd2Intervals]] (w17). `value` is an
    * Option so a null tracked value forms its own run, exactly like the
    * batch form's null-safe comparison.
    */
  case class ChangeObs(key: Long, ts: java.sql.Timestamp,
                       value: Option[String], tie: Long)
  case class RunState(value: Option[String], since: java.sql.Timestamp,
                      lastSeenMs: Long)
  case class Scd2Change(key: Long, value: Option[String],
                        valid_from: java.sql.Timestamp,
                        valid_to: Option[java.sql.Timestamp])

  /** Streaming SCD2: per key, hold the OPEN run (value, since) and emit
    * an interval the moment a batch closes it (the tracked value
    * changes); on watermark-driven eviction (`stateTtlDays` (> 0) of
    * event-time silence) the open run flushes with `valid_to = None` —
    * the "current record" surfaces instead of rotting in the store, and
    * streamed output (closed + flushed-open) EQUALS the one-shot
    * `Lifecycle.scd2Intervals` on the same events once every key's TTL
    * has passed (the batch-parity gate in StreamingSpec). A key
    * returning after eviction starts a fresh history — its first new
    * interval never closes against the pre-eviction run (documented,
    * same contract as every evicted twin here).
    *
    * Ordering contract: within a batch, rows fold in (ts, tie) order;
    * ACROSS batches, arrival must respect event time up to `lateness`
    * (the watermark bound — older rows are dropped before the fold by
    * FlatMapGroupsWithStateExec). A row older than the open run's LAST
    * folded observation that still reaches the fold is ignored — it can
    * neither re-open history nor close the run mid-run (a mid-run close
    * would diverge from the batch twin; widen `lateness` AND deliver in
    * event-time order if such replays must count). State is O(1) per
    * ACTIVE key: one open run. (The cross-batch late-row guard is
    * millisecond-granular — `RunState` holds lastSeen as epoch ms;
    * sub-millisecond ordering is enforced within a batch by the
    * (ts, nanos, tie) sort but not across batches. SCD sources are
    * day/second-granular in practice; use the tie column if yours
    * are not.)
    */
  def scd2Stream(ds: Dataset[ChangeObs],
                 stateTtlDays: Int = 30,
                 lateness: String = "1 day"): Dataset[Scd2Change] = {
    require(stateTtlDays > 0, s"stateTtlDays must be positive, got $stateTtlDays")
    import ds.sparkSession.implicits._
    evictingFold(ds, "ts", lateness)(
        _.key, Ordering.by(r => (r.ts.getTime, r.ts.getNanos, r.tie)))(
      (key, rows, held: Option[RunState]) => {
        var st = held
        val out = ArrayBuffer.empty[Scd2Change]
        rows.foreach { r =>
          st match {
            case None =>
              st = Some(RunState(r.value, r.ts, r.ts.getTime))
            case Some(run) =>
              // rows must be at or after the run's LAST folded
              // observation, not merely its start: a late row
              // landing mid-run (since ≤ ts < lastSeen) would close
              // the run early and silently diverge from the batch
              // twin — it is dropped like a pre-run row (see the
              // ordering contract; widen `lateness` + deliver in
              // order if such replays must count)
              if (r.ts.getTime >= run.lastSeenMs &&
                  r.ts.compareTo(run.since) >= 0) {
                if (r.value != run.value) {
                  out += Scd2Change(key, run.value, run.since, Some(r.ts))
                  st = Some(RunState(r.value, r.ts,
                    math.max(run.lastSeenMs, r.ts.getTime)))
                } else if (r.ts.getTime > run.lastSeenMs) {
                  st = Some(run.copy(lastSeenMs = r.ts.getTime))
                }
              } // late row: ignored (see ordering contract)
          }
        }
        (st.get, st.get.lastSeenMs + stateTtlDays * 86400000L, out.toSeq)
      },
      (key, run: RunState) => Some(Scd2Change(key, run.value, run.since, None)))
  }

  case class PageView(user: Long, ts: java.sql.Timestamp, tie: Long, page: Long)
  case class PageEdge(src: Long, dst: Long)
  case class LastView(tsMs: Long, nanos: Int, tie: Long, page: Long)

  /** Streaming page-transition edges — the g family's real-time twin
    * ([[graft.graph.Graph.transitionEdges]]'s lag window, held online):
    * per user, keep the LAST view in state and emit one (src, dst) edge
    * per arriving event. Consumers aggregate — `groupBy(src, dst).count`
    * over the drained sink equals the batch operator's weighted edge
    * list (the StreamingSpec parity gate), and a downstream PageRank /
    * census reads that aggregate, never the raw emissions.
    *
    * State is O(1) per ACTIVE user (one last view). Eviction after
    * `stateTtlDays` (> 0) of event-time silence forgets the last view, so
    * a returning user starts a fresh chain — no edge spans the gap. That
    * is a semantic choice, not just hygiene: a transition across a
    * month of silence is not evidence of navigation (the sessionize
    * rationale), and it is what bounds the state by active users.
    *
    * Ordering contract (the scd2Stream contract): within a batch, rows
    * fold in (ts, tie) order; across batches, arrival must respect
    * event time up to `lateness` — a row older than the held last view
    * that still reaches the fold is dropped (it cannot be spliced back
    * into an already-emitted chain; widen `lateness` if such replays
    * must count).
    */
  def transitionEdgesStream(ds: Dataset[PageView], stateTtlDays: Int = 30,
                            lateness: String = "1 day"): Dataset[PageEdge] = {
    require(stateTtlDays > 0, s"stateTtlDays must be positive, got $stateTtlDays")
    import ds.sparkSession.implicits._
    // full-precision ordering (the scd2Stream discipline): the batch lag
    // window orders by the COMPLETE timestamp, so the fold and the held
    // state must too — ms truncation would swap same-millisecond views
    // and break the parity gate
    evictingFold(ds, "ts", lateness)(
        _.user, Ordering.by(r => (r.ts.getTime, r.ts.getNanos, r.tie)))(
      (_, rows, held: Option[LastView]) => {
        var st = held
        val out = ArrayBuffer.empty[PageEdge]
        rows.foreach { r =>
          st match {
            case Some(lv) if Ordering[(Long, Long, Long)].gteq(
                (r.ts.getTime, r.ts.getNanos.toLong, r.tie),
                (lv.tsMs, lv.nanos.toLong, lv.tie)) =>
              out += PageEdge(lv.page, r.page)
              st = Some(LastView(r.ts.getTime, r.ts.getNanos, r.tie, r.page))
            case Some(_) => // pre-state late row: dropped (contract)
            case None =>
              st = Some(LastView(r.ts.getTime, r.ts.getNanos, r.tie, r.page))
          }
        }
        (st.get, st.get.tsMs + stateTtlDays * 86400000L, out.toSeq)
      })
  }

  case class SessionEvent(user: Long, ts: java.sql.Timestamp, tie: Long,
                          value: Option[Double])
  case class SessionRow(user: Long, session_id: Long, n: Long, nv: Long,
                        vsum_micros: Long, start: java.sql.Timestamp,
                        end: java.sql.Timestamp)
  case class OpenSession(sid: Long, n: Long, nv: Long, vsumMicros: Long,
                         startMs: Long, startNanos: Int, lastMs: Long,
                         lastNanos: Int, lastTie: Long)

  /** Streaming sessionization state — the real-time twin of
    * [[graft.analyze.Analytics.sessionState]], completing the
    * one-truth triangle with w8 (one-shot) and w20 (batch fold): per
    * user, ONE open session lives in state; a row within `gapMinutes`
    * of the last event merges (counts, value sum, end timestamp), a
    * gap-crossing row EMITS the closed session and opens the next at
    * `session_id + 1`, and state timeout emits the open session after
    * `stateTtlDays` (> 0) of event-time silence (a returning user then
    * starts a fresh numbering — the transitionEdgesStream eviction
    * semantics). Consumers read closed sessions; the batch twin's last
    * (still-open) session per user is exactly what a drained stream has
    * not yet emitted — the StreamingSpec parity gate.
    *
    * Numeric discipline: the value sum is held as MICROS (the
    * decimal(18,6) unscaled long — Catalyst's double→decimal cast is
    * HALF_UP, replayed here exactly), so long addition is the same
    * exact arithmetic as the batch decimal sum and the drained rows
    * compare bit-for-bit. Gap comparison is floor-second like the
    * batch `cast(ts as long)`.
    *
    * Ordering contract (the scd2Stream/transitionEdgesStream
    * contract): within a batch, rows fold in full-precision
    * (ts ms, nanos, tie) order; a row at or before the held last
    * observation drops — it cannot be spliced into a session whose
    * successor rows already folded.
    */
  def sessionStateStream(ds: Dataset[SessionEvent], gapMinutes: Int = 30,
                         stateTtlDays: Int = 30,
                         lateness: String = "1 day"): Dataset[SessionRow] = {
    require(stateTtlDays > 0, s"stateTtlDays must be positive, got $stateTtlDays")
    import ds.sparkSession.implicits._
    def micros(v: Double): Long =
      scala.math.BigDecimal(v).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact
    def tsOf(ms: Long, nanos: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ms); t.setNanos(nanos); t
    }
    def close(user: Long, s: OpenSession): SessionRow =
      SessionRow(user, s.sid, s.n, s.nv, s.vsumMicros,
        tsOf(s.startMs, s.startNanos), tsOf(s.lastMs, s.lastNanos))
    evictingFold(ds, "ts", lateness)(
        _.user, Ordering.by(r => (r.ts.getTime, r.ts.getNanos, r.tie)))(
      (user, rows, held: Option[OpenSession]) => {
        var st = held
        val out = ArrayBuffer.empty[SessionRow]
        rows.foreach { r =>
          val (nv1, vs1) =
            (r.value.map(_ => 1L).getOrElse(0L),
             r.value.map(micros).getOrElse(0L))
          st match {
            case None =>
              st = Some(OpenSession(0L, 1L, nv1, vs1, r.ts.getTime,
                r.ts.getNanos, r.ts.getTime, r.ts.getNanos, r.tie))
            case Some(s) if Ordering[(Long, Long, Long)].gt(
                (r.ts.getTime, r.ts.getNanos.toLong, r.tie),
                (s.lastMs, s.lastNanos.toLong, s.lastTie)) =>
              // floor-second gap, the batch cast(ts as long) contract
              if (r.ts.getTime / 1000L - s.lastMs / 1000L >
                  gapMinutes * 60L) {
                out += close(user, s)
                st = Some(OpenSession(s.sid + 1L, 1L, nv1, vs1,
                  r.ts.getTime, r.ts.getNanos, r.ts.getTime,
                  r.ts.getNanos, r.tie))
              } else {
                st = Some(s.copy(n = s.n + 1L, nv = s.nv + nv1,
                  vsumMicros = s.vsumMicros + vs1, lastMs = r.ts.getTime,
                  lastNanos = r.ts.getNanos, lastTie = r.tie))
              }
            case Some(_) => // at-or-before the fold frontier: dropped
          }
        }
        (st.get, st.get.lastMs + stateTtlDays * 86400000L, out.toSeq)
      },
      (user, s: OpenSession) => Some(close(user, s)))
  }

  /** Streaming first-seen cohort assignment — the real-time twin of
    * w15's cohort derivation (`Lifecycle.cohortRetention`'s
    * `min(first day)` per key): per key, track the earliest day seen and
    * emit a (key, cohort_day) row whenever the assignment CHANGES —
    * i.e. on first sight, and again if late data reveals an EARLIER
    * first day (min-monotone state, the mirror of the funnel's
    * max-monotone completion times; a later day can never move the
    * cohort). Consumers reduce with MIN per key — emissions carry no
    * ordering column and sink row order is not a contract, but the
    * min-monotone invariant makes min(cohort_day) always the current
    * assignment. State is one Int per key, and the key SET is bounded
    * too: see the eviction contract on the def below.
    */
  case class KeyDay(key: Long, day: Int) // day = epoch days
  case class CohortAssigned(key: Long, cohort_day: Int)

  /** Eviction is ALWAYS safe here because consumers reduce with MIN per
    * key: once the watermark passes `cohort_day + horizonDays` (> 0; the
    * retention analysis window for that cohort is closed) the state is
    * dropped. A key reappearing after eviction re-emits its first day
    * seen SINCE eviction — a later day, which min-reduce discards. An
    * earlier very-late event only re-points the cohort if it is still
    * WITHIN the watermark: Spark filters rows older than the current
    * watermark before the fold (applyRemovingRowsOlderThanWatermark), so
    * an event more than `lateness` behind the max seen event time is
    * dropped. That drop can only leave a cohort assignment LATER than the
    * all-data answer — the min-monotone consumer contract itself is
    * unchanged; widen `lateness` if deep replays must re-point cohorts.
    * Eviction thus trades extra emissions + the late-drop cutoff for
    * bounded state (O(keys active within the horizon), not lifetime
    * distinct keys).
    */
  def firstSeenCohorts(ds: Dataset[KeyDay],
                       horizonDays: Int = 90,
                       lateness: String = "1 day"): Dataset[CohortAssigned] = {
    require(horizonDays > 0, s"horizonDays must be positive, got $horizonDays")
    import ds.sparkSession.implicits._
    val withEt = ds.withColumn("__et",
      timestamp_seconds(col("day").cast("long") * 86400L))
    evictingFold(withEt.as[KeyDayEt], "__et", lateness)(_.key, Ordering.by(_.day))(
      (key, rows, held: Option[Int]) => {
        val incoming = rows.head.day
        val revised = held.forall(incoming < _)
        val cohort = if (revised) incoming else held.get
        (cohort, (cohort.toLong + horizonDays) * 86400000L,
          if (revised) Seq(CohortAssigned(key, incoming)) else Nil)
      })
  }

  /** Streaming funnel progress — the real-time twin of
    * `Lifecycle.funnel` (w14): per key, track completion of an ordered
    * stage sequence with every consecutive conversion inside
    * `maxLagSeconds`, emitting one row the FIRST time a key attains each
    * stage. State per key is the same latest-achievable completion-time
    * array the batch fold maintains (fixed length = #stages — O(1) per
    * key; the key SET is bounded by watermark eviction, see the def
    * below), so the math is shared: an event of
    * stage i at time t converts iff the prefix i-1 has a completion in
    * [t - lag, t], and overwriting with t keeps the state maximal for
    * all future events.
    *
    * Event-time ordering within a key across micro-batches is the
    * caller's contract (same as [[runningDailyChange]]); within a batch
    * the group's rows are sorted here. An out-of-order stage event
    * degrades safely: the `t >= acc(i-1)` guard keeps it from chaining
    * backward in time, and attained stages are never revoked.
    */
  case class StageEvent(key: Long, tMicros: Long, stage: Int)
  case class FunnelTimes(times: Seq[Long]) // -1 = unreached
  case class StageReached(key: Long, stage: Int, tMicros: Long)

  /** State is evicted once the watermark passes `max(achievable times) +
    * maxLag` (or the batch's newest event + maxLag when nothing has been
    * attained): past that instant no on-time event can extend the chain
    * from the stored state, so keeping it only suppresses duplicate
    * emissions. Documented post-eviction semantics: a key returning after
    * eviction restarts the funnel from scratch — a fresh stage-0 event
    * RE-emits `StageReached(key, 0, t)` (and onward), exactly as a batch
    * funnel over a fresh analysis window would. Consumers counting
    * DISTINCT (key, stage) are unaffected; raw-count consumers see one
    * extra row per stage per post-idle restart. Keyed state is therefore
    * O(keys active within maxLag), not lifetime distinct keys.
    * `lateness` is the watermark delay on the derived event-time column:
    * stage events arriving more than `lateness` behind the max seen event
    * time are dropped by Spark BEFORE the fold
    * (applyRemovingRowsOlderThanWatermark) — they never extend a chain.
    */
  def funnelProgress(ds: Dataset[StageEvent], nStages: Int,
                     maxLagSeconds: Long,
                     lateness: String = "1 hour"): Dataset[StageReached] = {
    import ds.sparkSession.implicits._
    val lag = maxLagSeconds * 1000000L
    evictingFold(ds.withColumn("__et", timestamp_micros(col("tMicros"))).as[StageEventEt],
        "__et", lateness)(_.key, Ordering.by(e => (e.tMicros, e.stage)))(
      (key, rows, held: Option[FunnelTimes]) => {
        val acc = held.map(_.times.toArray).getOrElse(Array.fill(nStages)(-1L))
        val out = ArrayBuffer.empty[StageReached]
        rows.foreach { e =>
          val i = e.stage
          if (i >= 0 && i < nStages) {
            val prevOk = i == 0 ||
              (acc(i - 1) >= 0 && e.tMicros >= acc(i - 1) &&
                e.tMicros - acc(i - 1) <= lag)
            if (prevOk) {
              if (acc(i) < 0) out += StageReached(key, i, e.tMicros)
              // max, not overwrite: within a batch events arrive
              // (t, stage)-sorted so this is the plain overwrite, but
              // an out-of-order stage-i event arriving in a LATER
              // micro-batch must not move the latest-achievable time
              // BACKWARD (that would suppress a conversion the prior
              // state already allowed) — state stays maximal under
              // late data, like the batch fold's monotone acc.
              acc(i) = math.max(acc(i), e.tMicros)
            }
          }
        }
        // rows are time-sorted: the last is the batch's newest event
        (FunnelTimes(acc.toSeq), (math.max(acc.max, rows.last.tMicros) + lag) / 1000L,
          out.toSeq)
      })
  }

  /** Statistics-dependent cleaning on a stream (SURVEY §7.4 risk 4): the
    * global p05/p95 fence and medians cannot be computed inside one
    * micro-batch without seeing all data, so they are computed on a static
    * snapshot (or a previous day's data) and applied as a broadcast to the
    * stream — the standard periodically-refreshed-statistics pattern.
    */
  def cleanWithStaticBounds(stream: DataFrame, statsSource: DataFrame,
                            cols: Seq[String], lo: Double = 0.05, hi: Double = 0.95,
                            k: Double = 1.5): DataFrame = {
    if (cols.isEmpty) return stream
    val aggs = cols.flatMap { c =>
      val q1 = percentile_approx(col(c), lit(lo), lit(10000))
      val q3 = percentile_approx(col(c), lit(hi), lit(10000))
      Seq((q1 - lit(k) * (q3 - q1)).as(s"__${c}_lb"),
          (q3 + lit(k) * (q3 - q1)).as(s"__${c}_ub"),
          percentile_approx(col(c), lit(0.5), lit(10000)).as(s"__${c}_med"))
    }
    val stats = statsSource.agg(aggs.head, aggs.tail: _*)
    val joined = stream.crossJoin(broadcast(stats))
    val cleaned = cols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        coalesce(
          when(col(c) < col(s"__${c}_lb") || col(c) > col(s"__${c}_ub"), lit(null))
            .otherwise(col(c)),
          col(s"__${c}_med")))
    }
    cleaned.drop(cols.flatMap(c => Seq(s"__${c}_lb", s"__${c}_ub", s"__${c}_med")): _*)
  }

  /** The one micro-batch bridge of the streaming layer: `body(batch,
    * batchId)` runs once per micro-batch of `stream` (`foreachBatch`), so
    * each micro-batch reuses the batch operators and writers. The query
    * checkpoints its offsets at `checkpoint` when given; with `drain` it
    * processes what is available now and stops (`AvailableNow`, the
    * batch-parity trigger) instead of running until stopped.
    */
  private[graft] def microBatches(stream: DataFrame, checkpoint: Option[String] = None,
                                  drain: Boolean = false)
                                 (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = checkpoint.foldLeft(stream.writeStream)(_.option("checkpointLocation", _))
    (if (drain) w.trigger(Trigger.AvailableNow()) else w).foreachBatch(body).start()
  }

  /** The stateless per-batch twins below: `sink` receives `f(batch,
    * batchId)` for every non-empty micro-batch of `stream`; empty batches
    * are skipped.
    */
  private def eachNonEmpty(stream: DataFrame, sink: DataFrame => Unit)
                          (f: (DataFrame, Long) => DataFrame): StreamingQuery =
    microBatches(stream) { (batch, id) => if (!batch.isEmpty) sink(f(batch, id)) }

  /** Streaming entity conformance — er3's online twin (the streaming
    * rung every incremental operator here gets): each micro-batch of
    * arriving records is conformed to the STANDING name universe via
    * [[graft.er.EntityResolution.incrementalEntityMatches]] (token
    * blocking against standing names only, best match under the total
    * (dist, name) order, unmatched rows self-label). Stateless per
    * batch — the assignment depends only on (row, standing universe) —
    * so the streamed union equals the one-shot er3 answer on the same
    * rows (StreamingSpec parity gate). At scale the standing side is
    * the sublinear distinct-name frame; per-batch cost never touches
    * corpus rows.
    */
  def entityMatchStream(standing: DataFrame, recordStream: DataFrame,
                        idCol: String, nameCol: String, maxDist: Int)
                       (sink: DataFrame => Unit): StreamingQuery =
    eachNonEmpty(recordStream, sink) { (batch, _) =>
      graft.er.EntityResolution.incrementalEntityMatches(
        batch, standing, idCol, nameCol, maxDist)
    }

  /** Streaming data-quality monitoring — the dq family's online twin
    * (the streaming rung every batch family here gets): each micro-batch
    * is validated by the SAME one-scan suite
    * ([[graft.quality.Checks.run]]) and the report rows are stamped with
    * the micro-batch id, yielding a per-batch quality time series — the
    * ingest-gate shape, where a sink alerts or quarantines the batch the
    * moment a `passed` flag goes false. Stateless per batch (a report
    * depends only on its own rows), so thresholds are per-batch
    * contracts and the stream needs no keyed state to evict.
    */
  def qualityMonitorStream(stream: DataFrame,
                           checks: Seq[graft.quality.Checks.Check])
                          (sink: DataFrame => Unit): StreamingQuery =
    eachNonEmpty(stream, sink) { (batch, id) =>
      graft.quality.Checks.run(batch, checks).withColumn("batch_id", lit(id))
    }

  /** [[qualityMonitorStream]] with DRIFT judgment — the online consumer
    * of the dq family's metric history ([[graft.quality.ReportStore]]):
    * each micro-batch's suite metrics append to the persisted store
    * (period = zero-padded batch id, so string order is batch order) and
    * the batch is judged against the TRAILING batches' mean via
    * [[graft.quality.Checks.driftReport]] — the same thresholds and
    * report shape as the batch dq4 path, so one drift contract serves
    * both cadences. The first batch passes vacuously (no history), like
    * the batch form. State lives in the store, not the stream — the
    * query itself stays stateless and restart-safe: periods are batch
    * ids and [[graft.quality.ReportStore.append]] is idempotent PER
    * PERIOD (the store names one directory per period), so a replayed
    * micro-batch after a restart REPLACES its period's rows instead of
    * double-counting them into the trailing mean.
    */
  def qualityDriftStream(stream: DataFrame,
                         checks: Seq[graft.quality.Checks.Check],
                         storePath: String, maxAbsDelta: Double)
                        (sink: DataFrame => Unit): StreamingQuery =
    eachNonEmpty(stream, sink) { (batch, id) =>
      graft.quality.ReportStore.appendAndDrift(
          graft.quality.Checks.run(batch, checks),
          storePath, f"b$id%012d", maxAbsDelta)
        .withColumn("batch_id", lit(id))
    }

  /** STREAMING SIMILARITY SEARCH — the ANN mirror of the standing-ledger
    * dedup loop (LshIndex / HashLedger micro-batch probes): a standing
    * corpus indexed ONCE ([[graft.sim.SrpIndex]]), each arriving
    * micro-batch of QUERY vectors probed against it with the persisted
    * index path ([[graft.sim.Similarity.annTopKIndexed]] — broadcast
    * probe join onto the bucket-group-partitioned index, candidate
    * branch reads no embedding bytes, exact-cosine rescore on the
    * survivors only).
    *
    * Each query row's top-k depends only on (query vector, corpus), so
    * results are independent of micro-batch boundaries: the streamed
    * union over batches equals the one-shot batch answer on the same
    * query set — the parity gate in StreamingSpec. At scale this is the
    * production online-retrieval shape: the 100 TB corpus side is
    * immutable and pruned per probe, per-batch work is
    * O(batch × probed buckets), and NO streaming state is kept (the
    * operator is stateless per batch — nothing to watermark or evict).
    *
    * `sink` receives each batch's finished top-k frame (query_id,
    * neighbor_id, cos, rank) — write it to a queue, table, or memory;
    * empty batches are skipped.
    */
  def annSearchStream(idx: graft.sim.SrpIndex.Handle, queryStream: DataFrame,
                      k: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      queryIdCol: String = "query_id")
                     (sink: DataFrame => Unit): StreamingQuery =
    eachNonEmpty(queryStream, sink) { (batch, _) =>
      graft.sim.Similarity.annTopKIndexed(idx, batch, k, idCol, vecCol, queryIdCol)
    }

  /** [[annSearchStream]]'s IVF twin — online retrieval against the
    * OTHER persisted ANN index ([[graft.sim.IvfIndex]], the s4 path):
    * the standing corpus is cell-assigned once (`IvfIndex.ensure`
    * returns the (assigned, centroids) pair this takes), each query
    * micro-batch probes its auto-sized nearest cells via the broadcast
    * generator join, and only cell-survivors pay the exact-cosine
    * rescore. Stateless per batch like the SRP twin — per-query top-k
    * depends only on (query, corpus), so the streamed union equals the
    * one-shot [[graft.sim.Similarity.ivfTopKAssigned]] answer on the
    * same query set (StreamingSpec parity gate). At scale the assigned
    * corpus is the cell-partitioned parquet artifact and each probe
    * prunes to the probed cells via DPP — per-batch cost is
    * O(batch × probed-cell occupancy), never a corpus scan.
    */
  def ivfSearchStream(assigned: DataFrame, cents: Seq[Seq[Double]],
                      queryStream: DataFrame, k: Int, nProbes: Int = 0,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      queryIdCol: String = "query_id")
                     (sink: DataFrame => Unit): StreamingQuery =
    eachNonEmpty(queryStream, sink) { (batch, _) =>
      graft.sim.Similarity.ivfTopKAssigned(
        assigned, cents, batch, k, nProbes, idCol, vecCol, queryIdCol)
    }

  /** [[annSearchStream]]'s IVF-PQ twin — online retrieval against the
    * COMPOSED persisted index ([[graft.sim.IvfPqIndex]], the s11 path):
    * each query micro-batch probes its nearest cells (DPP drops
    * unprobed cell directories of the code table), scores the m-byte
    * codes of the survivors with the native ADC kernel, and only the
    * top-`kCand` pay the exact-cosine rescore against the full-precision
    * corpus. Stateless per batch like its siblings — the streamed union
    * equals the one-shot candidates+rerank answer on the same query set
    * (StreamingSpec parity gate). At scale this is the cheapest online
    * shape of the three: per-batch cost is O(batch × probed-cell
    * occupancy × m bytes), the full-precision corpus is touched only
    * for kCand·|batch| survivor rows.
    */
  def ivfPqSearchStream(codesByCell: DataFrame, cents: Seq[Seq[Double]],
                        codebooks: Seq[Seq[Seq[Double]]], corpus: DataFrame,
                        queryStream: DataFrame, k: Int, kCand: Int = 64,
                        nProbes: Int = 0,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        queryIdCol: String = "query_id")
                       (sink: DataFrame => Unit): StreamingQuery =
    eachNonEmpty(queryStream, sink) { (batch, _) =>
      val cands = graft.sim.Similarity.ivfPqCandidatePairs(
        codesByCell, cents, codebooks, batch, kCand, nProbes,
        idCol, vecCol, queryIdCol)
      graft.sim.Similarity.exactRerank(
        cands, corpus, batch, k, idCol, vecCol, queryIdCol)
    }

  /** One committed [[heavyHittersStream]] summary: the running row total
    * and the summary's (item, count) entries in the summary's own order,
    * so a restore rebuilds the same tie order.
    */
  private[streaming] case class HeavyHitter(item: String, count: Long)
  private[streaming] case class HeavyHittersSummary(total: Long, entries: Seq[HeavyHitter])

  /** STREAMING heavy hitters — the real-time twin of
    * [[graft.text.Text.heavyHitters]] (trending items on an unbounded
    * stream): each micro-batch builds per-partition SpaceSaving
    * summaries map-side (the SAME
    * [[org.apache.spark.sql.graft.SpaceSavingBuffer]] the batch
    * aggregate runs), ships only (item, est) entries to the driver
    * (O(partitions × capacity) per batch, never one row per distinct
    * key), and merges them into ONE running summary — SpaceSaving is
    * merge-closed: estimates stay upper bounds and error bounds add, so
    * any item with true count > n/capacity + Σ merge bounds is
    * guaranteed present. After each batch `sink` receives the current
    * top-`k` as (item, est_count, n_total).
    *
    * TOTAL state is O(capacity) regardless of stream length or key
    * universe — the sketch IS the state, which is what makes a
    * trending-terms feed feasible forever where keyed streaming state
    * (even evicted) could not hold a token vocabulary. Exact counts are
    * deliberately NOT claimed (the batch operator's recount pass needs
    * the full corpus); with capacity above the live distinct-item count
    * the estimates are exact — the spec gates both regimes.
    *
    * Durability: pass `checkpointDir` (any Hadoop filesystem) and the
    * summary SURVIVES RESTART — the query checkpoints its source offsets
    * in `offsets/` there, and each merged batch commits its summary under
    * its batch id to `summary/` (Spark's [[HDFSMetadataLog]], the log the
    * offsets are committed with; older batches are purged), restored on
    * start. The summary commit and the offset commit cannot be atomic
    * TOGETHER, but either crash order is safe: summary-behind → the
    * restarted query re-delivers the batch and the restored last batch
    * id (< batchId) admits the merge exactly once; summary-ahead →
    * re-delivery is batchId-skipped. Without `checkpointDir` the summary
    * is session-scoped (a restart starts empty and, with no offset
    * checkpoint, re-reads the source), and within-session re-delivery is
    * batchId-deduped either way.
    */
  def heavyHittersStream(itemStream: DataFrame, itemCol: String, k: Int,
                         capacity: Int = 4096, checkpointDir: String = null)
                        (sink: DataFrame => Unit): StreamingQuery = {
    val spark = itemStream.sparkSession
    import spark.implicits._
    val running = new SpaceSavingBuffer(capacity)
    var total = 0L
    var lastMerged = -1L
    val summaries = Option(checkpointDir).map(d =>
      new HDFSMetadataLog[HeavyHittersSummary](spark, new Path(d, "summary").toString))
    summaries.flatMap(_.getLatest()).foreach { case (id, s) =>
      lastMerged = id
      total = s.total
      running.mergeIn(SpaceSavingBuffer.fromEntries(capacity,
        s.entries.map(e => (e.item, e.count)).toArray))
    }
    microBatches(itemStream, Option(checkpointDir).map(new Path(_, "offsets").toString)) {
      (batch, batchId) =>
        if (batchId > lastMerged) {
          val partials = batch.select(col(itemCol).cast("string")).as[String]
            .mapPartitions { it =>
              val buf = new SpaceSavingBuffer(capacity)
              var n = 0L
              it.foreach { s => if (s != null) { buf.add(s); n += 1 } }
              if (n == 0) Iterator.empty
              else {
                val entries = ArrayBuffer.empty[(String, Long)]
                buf.foreachEntry((i, c) => entries += ((i, c)))
                Iterator.single((entries.toSeq, n))
              }
            }.collect()
          // partition results arrive in nondeterministic order and merge
          // pruning is order-sensitive at ties — pin a content-derived
          // TOTAL order: (row count, full canonical entry serialization).
          // (count, min item) alone can tie for two different partials,
          // leaving the merge order — and tie-broken estimates —
          // nondeterministic; identical serializations mean identical
          // partials, whose relative order cannot matter.
          partials.sortBy { case (entries, n) =>
            (n, entries.sorted.map { case (i, c) => s"$i\u0000$c" }.mkString("\u0001"))
          }.foreach { case (entries, n) =>
              running.mergeIn(SpaceSavingBuffer.fromEntries(capacity, entries.toArray))
              total += n
            }
          lastMerged = batchId
          summaries.foreach { log =>
            val entries = ArrayBuffer.empty[HeavyHitter]
            running.foreachEntry((i, c) => entries += HeavyHitter(i, c))
            log.add(batchId, HeavyHittersSummary(total, entries.toSeq))
            log.purge(batchId)
          }
        }
        val top = {
          val all = ArrayBuffer.empty[(String, Long)]
          running.foreachEntry((i, c) => all += ((i, c)))
          all.sortBy { case (i, c) => (-c, i) }.take(k).toSeq
        }
        sink(top.toDF("item", "est_count").withColumn("n_total", lit(total)))
    }
  }
}
