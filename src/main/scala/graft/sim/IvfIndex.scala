package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse the persisted IVF index of an embedding corpus — the
  * vector-search sibling of [[graft.sink.BucketedMirror]]: pay the
  * index-build scans ONCE per corpus (count → √N centroids → the
  * O(N·nCells·dim) cell-assignment + int8-quantization pass), persist
  * the assigned frame partitioned BY CELL, and every later search runs
  * the pure probe path. Measured at the ×100 probe corpus (200 k × 64-d),
  * the build is ~2 s of the ~2.7 s end-to-end run — an "index" that is
  * rebuilt per query batch is mostly build.
  *
  * The cell partitioning is the 100 TB point: a search joins the corpus
  * to a BROADCAST probe-cell list, so Spark's dynamic partition pruning
  * drops every unprobed cell directory at scan time — a query batch
  * probing p cells of C reads p/C of the corpus bytes, not all of them
  * (the gate in PlanQualitySpec pins `dynamicpruning` in the s8 scan).
  *
  * Reuse ladder: a committed [[graft.StoreLog]] manifest → read the
  * directories it lists; none → build (the one-time scans) and commit.
  * Builds, appends and compacts all commit through that log. The index
  * lives under target/ivf_index/<sf-tag> (untracked; deleting it forces
  * a rebuild — on a real cluster this is a warehouse table keyed by
  * corpus snapshot). Builds are serialized per JVM: Verify constructs
  * queries from a 4-thread pool and s4/s8 share one index.
  *
  * Reference analog: the SQLite index built once per load so later
  * lookups don't scan (/root/reference/src/load.py:143-144) — here the
  * "index" is Voronoi cell layout instead of a B-tree.
  */
object IvfIndex {

  /** Bump when the index format or assignment semantics change: reuse is
    * keyed only by source dir, so an index persisted by OLDER code would
    * otherwise silently serve stale cells. v2: per-`subset`
    * subdirectories (different indexed slices of one source must not
    * share a directory — the LshIndex convention) + idempotent
    * [[append]] generations. v3: directories listed by a
    * [[graft.StoreLog]] manifest.
    */
  private val version = "v3"

  /** Index root for a source dir — key scheme and its rationale in
    * [[graft.ArtifactKey]] (basename + path hash + content stamp); pass
    * the session Hadoop conf for sources on filesystems that need it.
    */
  def root(dir: String, subset: String = "all",
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File =
    graft.ArtifactKey.root("ivf_index", version, dir, subset, hadoopConf)

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, subset: String = "all"): Unit = graft.StoreLog.drop(root(dir, subset))

  /** The (assigned corpus, centroids) pair for `<dir>`'s corpus:
    * columns (idCol, vecCol, __qc, __sc, __cell) with __cell as the
    * PARTITION column. `corpus` is only scanned on a cold build; an
    * empty corpus persists nothing ([[graft.StoreLog.ensure]] memoizes
    * its handle).
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"): (DataFrame, Seq[Seq[Double]]) = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    graft.StoreLog.ensure(spark, base)(handle(spark, base, _)) { log =>
      val df = corpus
      val n = Similarity.countRows(df)
      if (n == 0) {
        // an empty parquet dir can't be read back (no footer to infer a
        // schema from), and repartition(0 cells) throws — return the
        // inline paths' empty-corpus contract (empty assigned frame, no
        // centroids) without writing an index
        Left((Similarity.assignCells(df, Seq.empty, idCol, vecCol), Seq.empty[Seq[Double]]))
      } else {
        val cents = Similarity.kmeansCentroids(df, Similarity.autoCells(n), 0, idCol, vecCol)
          .map(_.toSeq).toSeq
        // centroids persist beside the corpus: probe selection must use
        // the EXACT quantizer the cells were assigned with, across JVMs
        import spark.implicits._
        val centsDir = log.fresh("centroids")
        cents.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("cell", "centroid")
          .coalesce(1).write.parquet(log.path(centsDir).toString)
        // repartition by the cell id first: the hash layout puts each
        // cell's rows in exactly one task, so partitionBy writes ONE file
        // per cell directory (the BucketedMirror alignment trick)
        val corpusDir = log.fresh("corpus")
        Similarity.assignCells(df, cents, idCol, vecCol)
          .repartition(cents.length, col("__cell"))
          .write.partitionBy("__cell").parquet(log.path(corpusDir).toString)
        Right(graft.StoreSnapshot(leaves = Map("corpus" -> corpusDir, "centroids" -> centsDir)))
      }
    }
  }

  /** The persisted centroid matrix of a committed index, memoized per
    * (session, path, content fingerprint) — [[graft.ReadCache]] — so a
    * warm ensure/append/search pays a metadata walk, not a read +
    * collect job, per access.
    */
  private def readCents(spark: SparkSession, base: java.io.File,
                        s: graft.StoreSnapshot): Seq[Seq[Double]] =
    graft.ReadCache.collectedLocal(spark, new java.io.File(base, s.leaves("centroids"))) { df =>
      df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
        .map(_._2).toSeq
    }

  /** The committed centroids of `<dir>`'s index — the quantizer
    * [[IvfPqIndex]] assigns cells with. Fails loudly when the index was
    * dropped: the composed index must never re-derive a quantizer.
    */
  private[sim] def centroids(spark: SparkSession, dir: String,
                             subset: String): Seq[Seq[Double]] = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    val s = graft.StoreLog.open(spark, base).snapshot
    require(s.leaves.contains("centroids"),
      s"missing sibling IVF centroids at $base — the composed index " +
        "cannot assign cells without the exact quantizer it was built with")
    readCents(spark, base, s)
  }

  /** The assigned frame: base corpus plus every [[append]] generation
    * (each its own cell-partitioned parquet root, so dynamic partition
    * pruning applies to all of them alike), with the centroids.
    */
  private def handle(spark: SparkSession, base: java.io.File,
                     s: graft.StoreSnapshot): (DataFrame, Seq[Seq[Double]]) =
    (graft.StoreLog.readLocal(spark, base, s.generations("corpus")),
      readCents(spark, base, s))

  /** Fold a batch of NEW vectors into the persisted index — the
    * index-MAINTENANCE rung (the LshIndex/HashLedger/EdgeIndex story
    * for vector search: a daily embedding batch must not cost a corpus
    * re-scan or a re-cluster): batch rows are assigned to the EXISTING
    * centroids and written as their own cell-partitioned generation
    * under the index root. The quantizer is immutable per index
    * generation BY DESIGN — re-training moves every Voronoi boundary
    * and forces a full re-assign; a periodic rebuild ([[drop]] +
    * [[ensure]]) is a separate, deliberate operation.
    *
    * EXACTNESS: cell assignment is a pure per-row function of the
    * centroids, so searching the appended index is IDENTICAL to
    * searching a cold index built over corpus ∪ batches with the same
    * centroids (SimilaritySpec gates the bit equality). IDEMPOTENT per
    * `batchKey` — a replayed batch replaces its own generation instead
    * of double-counting, and a replay of a batch [[compact]] already
    * folded is a no-op (duplicate vector rows would rank one neighbor
    * into two top-k slots), so at-least-once drivers are safe.
    *
    * Returns the refreshed (assigned frame incl. all generations,
    * centroids). Requires an existing index (there is no quantizer to
    * assign against otherwise) — seed one with [[ensure]].
    */
  def append(spark: SparkSession, dir: String, batchKey: String,
             batch: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding",
             subset: String = "all"): (DataFrame, Seq[Seq[Double]]) = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    graft.StoreLog.append(spark, base, Some(batchKey))(handle(spark, base, _)) { (s, gen) =>
      val cents = readCents(spark, base, s)
      Similarity.assignCells(batch, cents, idCol, vecCol)
        .repartition(cents.length, col("__cell"))
        .write.partitionBy("__cell").parquet(gen)
    }
  }

  /** Fold every [[append]] generation back into the base corpus leaf —
    * the maintenance pass that keeps the probe's file economics flat
    * after a year of daily appends (each generation is one small parquet
    * file per touched cell directory; scan cost and the DPP directory
    * pruning degrade with file COUNT, not bytes). After it the index is
    * one file per cell in one root again, exactly as a cold build over
    * corpus ∪ batches would have written it.
    *
    * Rows are preserved exactly — compaction is a permutation, so
    * search results are bit-identical before and after (gated in
    * SimilaritySpec), and the centroids are untouched (re-sizing the
    * quantizer is a rebuild: [[drop]] + [[ensure]], by definition). The
    * folded batch keys commit in the same manifest as the fold, so
    * [[append]] no-ops an at-least-once replay of a folded batch. Run
    * offline, like every maintenance pass here.
    */
  def compact(spark: SparkSession, dir: String,
              subset: String = "all"): (DataFrame, Seq[Seq[Double]]) = synchronized {
    val base = root(dir, subset, spark.sessionState.newHadoopConf())
    graft.StoreLog.compact(spark, base)(handle(spark, base, _)) { (log, s) =>
      val (all, cents) = handle(spark, base, s)
      // the same one-task-per-cell repartition alignment as the build
      // writes ONE file per cell directory. Replayed rows need no dedup
      // here BY CONSTRUCTION: a pre-fold replay replaces its own
      // generation, a post-fold replay no-ops on the folded keys — an
      // unconditional distinct() over array columns would be the fold's
      // dominant shuffle for zero rows removed.
      val corpusDir = log.fresh("corpus")
      all.repartition(cents.length, col("__cell"))
        .write.partitionBy("__cell").parquet(log.path(corpusDir).toString)
      s.copy(leaves = s.leaves + ("corpus" -> corpusDir))
    }
  }
}
