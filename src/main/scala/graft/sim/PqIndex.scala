package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse the persisted product-quantization index of an
  * embedding corpus — the compressed-scan sibling of [[IvfIndex]]: pay
  * the train (bounded sample, [[Similarity.pqTrain]]) and the one
  * full-corpus encode pass ONCE, persist the m-bytes-per-vector code
  * table plus its codebooks, and every later search streams the code
  * table with the ADC scorer.
  *
  * The code table is the 100 TB point: at d=64/m=8 it is 32× smaller
  * than the float32 corpus (a 100 TB embedding column becomes a ~3 TB
  * code scan), and the search plan never reads embedding bytes until
  * the exact rerank of kCand·|queries| survivors. Where [[IvfIndex]]
  * prunes WHICH rows are read (cell DPP), PQ shrinks HOW MUCH each row
  * costs — at full scale the two compose (IVF-PQ: probe cells, scan
  * codes), which [[Similarity.pqCandidatePairsEncoded]]'s code-table
  * input shape keeps open (pass it the cell-pruned slice).
  *
  * Reuse ladder, artifact keying, supersede-on-rebuild, empty-corpus
  * memo: the one [[graft.StoreLog.ensure]] lifecycle. Index lives under
  * target/pq_index/<version>/<stamped-dir>/<m_ksub geometry> — the
  * geometry leg keeps a warm call with different m/ksub from silently
  * being served another geometry's codes.
  *
  * Reference analog: the SQLite index built once per load
  * (/root/reference/src/load.py:143-144) — here the "index" is a
  * quantized mirror instead of a B-tree.
  */
object PqIndex {

  /** Bump when the code layout or train semantics change: reuse is
    * keyed only by source dir + geometry, so an index persisted by
    * OLDER code would otherwise silently serve stale codes. v2 = the
    * geometry-keyed directory layout (r17) — v1 stored codes directly
    * under the stamped dir, which the geometry subdirs would otherwise
    * share a parent with. v3: per-`subset` keying (different indexed
    * slices of one source must not share a directory — the
    * LshIndex/IvfIndex convention) + idempotent [[append]] generations.
    * v4: directories listed by a [[graft.StoreLog]] manifest.
    */
  private val version = "v4"

  /** Geometry leg of the artifact key: codes written at one (m, ksub)
    * must never be served to an ensure() asking for another — the ADC
    * scorer would misread them. 0 = "auto" keys separately from every
    * explicit value (auto RESOLVES per corpus size, so it cannot alias
    * a fixed setting). Same discipline as [[graft.dedup.LshIndex.root]]
    * keying its (s, b, r) geometry under the stamped dir.
    */
  private def geom(m: Int, ksub: Int): String =
    s"m${if (m > 0) m.toString else "auto"}_k${if (ksub > 0) ksub.toString else "auto"}"

  def root(dir: String, m: Int = 0, ksub: Int = 0,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration(),
           subset: String = "all"): java.io.File =
    graft.ArtifactKey.root("pq_index", version, dir, s"${subset}_${geom(m, ksub)}", hadoopConf)

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, m: Int = 0, ksub: Int = 0,
           subset: String = "all"): Unit =
    graft.StoreLog.drop(root(dir, m, ksub, subset = subset))

  /** The (code table, codebooks) pair for `<dir>`'s corpus: codes are
    * (idCol, __codes array<byte>), codebooks m × ksub × dsub. `corpus`
    * is only scanned on a cold build.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             m: Int = 0, ksub: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"
            ): (DataFrame, Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, m, ksub, spark.sessionState.newHadoopConf(), subset)
    graft.StoreLog.ensure(spark, base)(handle(spark, base, _)) { log =>
      val df = corpus
      val cb = Similarity.pqTrain(df, m, ksub, iters = 2, idCol, vecCol)
      // empty corpus: nothing to persist (no parquet footer to read
      // back) — the inline paths' empty contract, no index written
      if (cb.isEmpty) Left((df.select(col(idCol)).limit(0), Seq.empty[Seq[Seq[Double]]]))
      else {
        // codebooks persist beside the codes: ADC LUTs must use the
        // EXACT quantizer the codes were written with, across JVMs
        import spark.implicits._
        val booksDir = log.fresh("codebooks")
        cb.zipWithIndex.flatMap { case (book, s) =>
          book.zipWithIndex.map { case (cent, c) => (s, c, cent) }
        }.toDF("sub", "cell", "centroid")
          .coalesce(1).write.parquet(log.path(booksDir).toString)
        val codesDir = log.fresh("codes")
        Similarity.pqEncode(df, cb, idCol, vecCol).write.parquet(log.path(codesDir).toString)
        Right(graft.StoreSnapshot(leaves = Map("codes" -> codesDir, "codebooks" -> booksDir)))
      }
    }
  }

  /** The persisted codebooks of a committed index, memoized per
    * (session, path, content fingerprint) — [[graft.ReadCache]] — so a
    * warm ensure/append/search pays a metadata walk, not a read +
    * collect job, per access.
    */
  private def readBooks(spark: SparkSession, base: java.io.File,
                        s: graft.StoreSnapshot): Seq[Seq[Seq[Double]]] =
    graft.ReadCache.collectedLocal(spark, new java.io.File(base, s.leaves("codebooks"))) { df =>
      val books = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      books.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.sortBy(_._2).map(_._3.toSeq).toSeq
      }
    }

  /** The committed codebooks of `<dir>`'s auto-geometry index — the
    * quantizer [[IvfPqIndex]] encodes with. Fails loudly when the index
    * was dropped: the composed index must never re-derive a quantizer.
    */
  private[sim] def codebooks(spark: SparkSession, dir: String,
                             subset: String): Seq[Seq[Seq[Double]]] = synchronized {
    val base = root(dir, hadoopConf = spark.sessionState.newHadoopConf(), subset = subset)
    val s = graft.StoreLog.open(spark, base).snapshot
    require(s.leaves.contains("codebooks"),
      s"missing sibling PQ codebooks at $base — the composed index " +
        "cannot encode without the exact quantizer it was built with")
    readBooks(spark, base, s)
  }

  /** The code table — base build plus every [[append]] generation (the
    * IvfIndex shape) — with the codebooks.
    */
  private def handle(spark: SparkSession, base: java.io.File,
                     s: graft.StoreSnapshot): (DataFrame, Seq[Seq[Seq[Double]]]) =
    (graft.StoreLog.readLocal(spark, base, s.generations("codes")),
      readBooks(spark, base, s))

  /** Fold a batch of NEW vectors into the persisted code table — the
    * [[IvfIndex.append]] rung for the compression path: batch rows
    * encode with the PERSISTED codebooks (a pure per-row function — the
    * quantizer-immutability argument verbatim; re-training moves every
    * codeword and forces a full re-encode, i.e. a rebuild) and land as
    * their own generation beside the base codes. The corpus is never
    * re-scanned and the ADC search scans the appended table exactly as
    * it would a cold same-codebook encode of corpus ∪ batches
    * (SimilaritySpec gates the bit equality). IDEMPOTENT per
    * `batchKey` — a replay replaces its own generation, and a replay of
    * a batch [[compact]] already folded no-ops on the folded keys.
    */
  def append(spark: SparkSession, dir: String, batchKey: String,
             batch: DataFrame, m: Int = 0, ksub: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"): (DataFrame, Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, m, ksub, spark.sessionState.newHadoopConf(), subset)
    // REBALANCE (AQE) sizes the generation's files (the SrpIndex.append
    // note): un-hinted, the codes land in the batch's input partitioning
    // — dozens of near-empty files per append at test scale
    graft.StoreLog.append(spark, base, Some(batchKey))(handle(spark, base, _)) { (s, gen) =>
      Similarity.pqEncode(batch, readBooks(spark, base, s), idCol, vecCol)
        .hint("rebalance").write.parquet(gen)
    }
  }

  /** Fold every [[append]] generation back into the base codes leaf —
    * the [[IvfIndex.compact]] maintenance pass for the compression path
    * (file count, not bytes, is what appends grow). Rows preserved
    * exactly; codebooks untouched (re-sizing the quantizer is a
    * rebuild); the folded keys commit with the fold. Run offline.
    */
  def compact(spark: SparkSession, dir: String, m: Int = 0, ksub: Int = 0,
              subset: String = "all"): (DataFrame, Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, m, ksub, spark.sessionState.newHadoopConf(), subset)
    graft.StoreLog.compact(spark, base)(handle(spark, base, _)) { (log, s) =>
      // size the fold by the on-disk bytes being folded (codes are m
      // bytes/vector — usually one file suffices at test scale)
      val codesDir = log.fresh("codes")
      handle(spark, base, s)._1.repartition(graft.StoreLog.foldFiles(base, s.generations("codes")))
        .write.parquet(log.path(codesDir).toString)
      s.copy(leaves = s.leaves + ("codes" -> codesDir))
    }
  }
}
