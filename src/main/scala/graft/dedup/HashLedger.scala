package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-or-reuse the persisted content-hash ledger of a corpus — the
  * EXACT-dedup sibling of [[LshIndex]] (near-dup buckets) in the
  * incremental family: pay the corpus hashing scan ONCE, persist the
  * md5 content addresses partitioned by a bounded hash-group key, and
  * every later batch checks membership against the standing ledger.
  * This is the first dedup pass of a daily-crawl pipeline (exact dups
  * die here, cheaply, before the LSH near-dup machinery ever sees
  * them); at 100 TB the ledger is billions of 16-byte hashes — far past
  * any broadcast — so membership must be a partition-pruned probe of a
  * persisted layout, not a per-run corpus re-hash.
  *
  * Layout (under target/hash_ledger/v2/<tag>/<subset>):
  *  - `hashes`: (content_md5) partitioned by
  *    `__grp = pmod(xxhash64(content_md5), groups)` — the ledger stores
  *    only the address, no ids and no text (membership is the question
  *    it answers). A probe derives the same group key from its own
  *    hashes; with the batch side broadcast into an INNER join, dynamic
  *    partition pruning drops every hash-group the batch never touches
  *    at scan time.
  *  - the manifest's meta: (groups, n, id_col, text_col) — layout +
  *    provenance.
  *
  * Probe shape note ([[Dedup.incrementalExactNewIndexed]]): the natural
  * formulation — batch LEFT ANTI ledger — is semantically prunable
  * (unprobed ledger partitions cannot eliminate a batch row) but Spark's
  * PartitionPruning rule does not fire for anti joins, so the probe runs
  * as INNER (ledger ⋈ broadcast batch hashes, DPP fires) to find the
  * batch's DUPLICATE ids, then a tiny batch-side anti join on those ids.
  *
  * Reuse ladder and keying follow [[LshIndex]]: a committed
  * [[graft.StoreLog]] manifest → read back; none → build; [[graft.ContentStamp]] in the tag forces
  * a rebuild when the source regenerates, and the rebuild drops the
  * ledgers of older stamps.
  */
object HashLedger {

  final case class Handle(hashes: DataFrame, groups: Int,
                          idCol: String, textCol: String)

  /** Bump when the layout or hashing semantics change. v2: directories
    * and group count listed by a [[graft.StoreLog]] manifest. */
  private val version = "v2"

  /** Same directory-count economics as [[LshIndex.autoGroups]]: one
    * distinct content per corpus row at worst.
    */
  def autoGroups(rows: Long): Int = LshIndex.autoGroups(rows)

  /** The group key both sides derive from a content hash — one
    * definition so a probe can never hash differently from the layout.
    */
  private[dedup] def grpOf(h: org.apache.spark.sql.Column, groups: Int) =
    pmod(xxhash64(h), lit(groups.toLong)).cast("int")

  def root(dir: String, subset: String = "all",
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File =
    graft.ArtifactKey.root("hash_ledger", version, dir, subset, hadoopConf)

  /** Delete the persisted ledger (forces the next ensure to rebuild). */
  def drop(dir: String, subset: String = "all"): Unit = graft.StoreLog.drop(root(dir, subset))

  /** Build-or-reuse the ledger of `<dir>`'s corpus. `corpus` is only
    * evaluated (and scanned) on a cold build.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             subset: String = "all"): Handle =
    ensureHashes(spark, dir,
      corpus.select(md5(col(textCol)).as("content_md5")),
      idCol, textCol, subset)

  /** [[ensure]] for PRE-COMPUTED content addresses — the seam that lets
    * a non-SQL address derivation (e.g. the codec-derived pixel digests
    * of a media corpus, [[graft.multimodal.Multimodal.imagePixelDigests]])
    * ride the same persisted layout, DPP probe shape, and reuse ladder.
    * `hashes` must expose a `content_md5` string column and is only
    * evaluated on a cold build; `idCol`/`textCol` are provenance labels
    * recorded in the manifest.
    */
  def ensureHashes(spark: SparkSession, dir: String, hashes: => DataFrame,
                   idCol: String, textCol: String,
                   subset: String): Handle = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    graft.StoreLog.ensure(spark, base)(handle(spark, base, _)) { log =>
      // materialize the address frame ONCE: the count below and the
      // layout write would otherwise each evaluate the derivation — for
      // a text corpus that is two cheap scans, but for an opaque
      // derivation (the media digest ledger's per-blob codec decode,
      // which Catalyst cannot prune out of a count) it would pay the
      // dominant build cost twice
      val df = hashes.localCheckpoint()
      val n = df.count()
      if (n == 0) Left(Handle(
        df.select(col("content_md5")).withColumn("__grp", grpOf(col("content_md5"), 16)),
        16, idCol, textCol))
      else {
        val groups = autoGroups(n)
        val hashesDir = log.fresh("hashes")
        writeHashes(df, groups, log.path(hashesDir).toString)
        Right(graft.StoreSnapshot(
          leaves = Map("hashes" -> hashesDir),
          meta = Map("groups" -> groups.toString, "n" -> n.toString,
            "id_col" -> idCol, "text_col" -> textCol)))
      }
    }
  }

  /** Write distinct addresses in the ledger layout: map-side partial
    * dedup (a corpus with heavy duplication shuffles one row per
    * distinct content per map task), then the one-file-per-group
    * repartition alignment shared with LshIndex/SrpIndex/IvfIndex.
    */
  private def writeHashes(hashes: DataFrame, groups: Int, path: String): Unit =
    hashes.select(col("content_md5")).distinct()
      .withColumn("__grp", grpOf(col("content_md5"), groups))
      .repartition(groups, col("__grp"))
      .write.partitionBy("__grp").parquet(path)

  /** The committed ledger: the base leaf plus every [[append]]
    * generation, one read per root unioned (per-root scans keep the
    * group pruning per generation), and the group count from the
    * manifest.
    */
  private def handle(spark: SparkSession, base: java.io.File,
                     s: graft.StoreSnapshot): Handle =
    Handle(graft.StoreLog.readLocal(spark, base, s.generations("hashes")),
      s.meta("groups").toInt, s.meta("id_col"), s.meta("text_col"))

  /** Append a batch's content addresses to the standing ledger — the
    * daily-ingest seam: after [[Dedup.incrementalExactNewIndexed]] finds
    * the batch's NOVEL rows, their addresses join the ledger here so
    * tomorrow's batch dedups against today's too. Addresses are deduped
    * within the batch and land as their own generation in the SAME
    * `__grp` layout (group key and count come from the manifest), so
    * the DPP probe shape is unchanged the moment the append commits.
    * Each append adds ≤ 1 file per touched group; a year of daily
    * batches is ~365 small files per group — run [[compact]]
    * periodically to fold them (and to re-size `groups` for the grown
    * ledger). Caller sends novel addresses only; a re-sent address is
    * harmless for membership answers (the probe is an inner-join
    * existence check) until compact() folds duplicates.
    */
  def append(spark: SparkSession, dir: String, newHashes: DataFrame,
             subset: String = "all"): Handle = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    graft.StoreLog.append(spark, base, None)(handle(spark, base, _)) { (s, gen) =>
      writeHashes(newHashes, s.meta("groups").toInt, gen)
    }
  }

  /** Fold the append generations into one file per group and re-size
    * the group count for the ledger as it stands — the maintenance pass
    * that keeps the DPP probe cost flat after a year of [[append]]s
    * (file-open overhead, not bytes, is what grows: every appended batch
    * adds a file per touched group). Re-derives the layout from scratch:
    * distinct addresses (folding any re-sent ones), `groups` re-sized by
    * [[autoGroups]] of the CURRENT address count, and the layout and its
    * group count commit in ONE manifest. Membership answers are
    * identical before and after (parity-gated in DedupSpec). Run
    * offline: a probe holding the old Handle loses its files when the
    * commit sweeps them.
    */
  def compact(spark: SparkSession, dir: String, subset: String = "all"): Handle = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    graft.StoreLog.compact(spark, base)(handle(spark, base, _)) { (log, s) =>
      val distinctAddrs = handle(spark, base, s).hashes.select(col("content_md5")).distinct()
      val n = distinctAddrs.count()
      val groups = autoGroups(n)
      val hashesDir = log.fresh("hashes")
      writeHashes(distinctAddrs, groups, log.path(hashesDir).toString)
      s.copy(leaves = Map("hashes" -> hashesDir),
        meta = s.meta ++ Map("groups" -> groups.toString, "n" -> n.toString))
    }
  }
}
