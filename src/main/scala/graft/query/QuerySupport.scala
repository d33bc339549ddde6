package graft
package query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers that more than one query family uses: the exact-decimal money
  * terms and the candidate dumps that dump-replay oracles read.
  */
private[graft] object QuerySupport {

  /** The TPC-H revenue term in exact decimal: money aggregates accumulate
    * order-free (partition-order double sums drift at the rounding digit
    * over 1e5+ rows) and round exactly, the way TPC-H's DECIMAL schema
    * mandates. DuckDB twin:
    * `sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))`.
    */
  def volDec: Column =
    col("l_extendedprice").cast("decimal(18,6)") *
      (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)"))

  /** Exact decimal sum, rounded in decimal (no double boundary), published
    * as double. DuckDB twin: `CAST(round(sum(<dec>), 2) AS DOUBLE)`.
    */
  def decSum2(c: Column): Column = round(sum(c), 2).cast("double")

  /** Where a candidate-dump query materializes its pair set, keyed like
    * every other persisted artifact ([[ArtifactKey.pathKey]]: basename +
    * path hash, so corpora at different paths sharing a directory name
    * cannot overwrite each other's dump): the oracle SQL replays the
    * verify stage in DuckDB over this exact dump, so the path must be
    * (a) absolute — the driver's DuckDB cwd is not the repo — and (b)
    * a function of the scale-factor directory alone, so the query's
    * [[DumpReplay]] oracle names the dump for whichever directory
    * Verify runs at. No content stamp: each dump is REWRITTEN
    * by its own query every run, so it can't go stale within a run.
    * Every dump-reading oracle except d12's reads the dump ITS OWN query
    * wrote this run (self-contained); d12's replays clustering over
    * d13's dump — if d13's WRITE fails mid-run (disk full, interrupt),
    * d12 compares against the previous run's candidates. That failure is
    * not silent — the same round's d13 entry records the write error —
    * so a d12 mismatch beside a d13 error reads as "stale dump", not a
    * clustering bug.
    */
  def candidatesPath(q: String, dir: String): String =
    new java.io.File(
      s"target/${q}_candidates/" + ArtifactKey.pathKey(dir)).getAbsolutePath

  /** Verify-stage feed for a candidate-dump query: under
    * [[CandidateDumps.enabled]] (the driver's Verify run) the candidate
    * frame is written to `q`'s dump and the READ-BACK frame is returned,
    * so the engine and the replaying oracle provably score the identical
    * pair set; otherwise (Bench, specs, library use) the in-memory frame
    * is returned untouched and the query runs its pure search/dedup plan
    * — no parquet round-trip in the measured path. Result parity between
    * the two modes is gated in PlanQualitySpec.
    */
  def dumpedCandidates(s: SparkSession, q: String, d: String, cands: DataFrame): DataFrame =
    if (CandidateDumps.enabled) {
      val path = candidatesPath(q, d)
      cands.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    } else cands
}
