package graft

/** The persisted-artifact keying layer: [[ArtifactKey]] (the one key
  * scheme shared by bucketed mirrors and the IVF/SRP indexes),
  * [[ContentStamp]] (the regenerated-source detector the key embeds),
  * and the superseded-artifact GC the stores run on cold builds. The
  * staleness property matters more than usual here: indexed searches
  * rescore against the artifact's OWN persisted vectors, so a stale
  * artifact served silently is invisible to every downstream gate.
  */
class ArtifactKeySpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, length}

  private def tmpDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  test("pathKey: same basename under different parents yields different keys") {
    val a = ArtifactKey.pathKey("/x/one/corpus")
    val b = ArtifactKey.pathKey("/x/two/corpus")
    assert(a !== b)
    assert(a.startsWith("corpus_") && b.startsWith("corpus_"))
    // equivalent spellings of one location agree (keying is by absolute path)
    assert(ArtifactKey.pathKey("/x/one/corpus") ===
      ArtifactKey.pathKey("/x/one/./corpus"))
    // non-filename-safe chars are sanitized out of the readable part
    assert(ArtifactKey.pathKey("/x/sf=0.1").matches("[A-Za-z0-9_]+"))
  }

  test("ContentStamp: absent path, recursive listing, and change detection") {
    assert(ContentStamp("/x/does/not/exist") === "absent")
    val d = tmpDir("stamp_spec")
    val sub = new java.io.File(d, "part=0"); sub.mkdirs()
    val f = new java.io.File(sub, "data.bin")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val s1 = ContentStamp(d.getPath)
    assert(s1 !== "absent")
    assert(ContentStamp(d.getPath) === s1, "stamp must be deterministic")
    // a length change (regenerated file) must move the stamp — even if
    // the rewrite lands inside one mtime tick, which this simulates
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3, 4))
    val s2 = ContentStamp(d.getPath)
    assert(s2 !== s1, "regenerated content must change the stamp")
    // a NEW file under a subdirectory must also move it (recursive list)
    java.nio.file.Files.write(
      new java.io.File(sub, "extra.bin").toPath, Array[Byte](9))
    assert(ContentStamp(d.getPath) !== s2)
    ArtifactKey.rmRecursive(d)
  }

  test("dropSuperseded removes only same-prefix siblings, keeping the live one") {
    val parent = tmpDir("gc_spec")
    def mk(name: String): java.io.File = {
      val f = new java.io.File(parent, name); f.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(f, "payload").toPath, Array[Byte](1))
      f
    }
    val keep = mk("corpus_ab_s1111")
    val stale1 = mk("corpus_ab_s0000")
    val stale2 = mk("corpus_ab_s2222")
    val other = mk("other_cd_s3333")
    ArtifactKey.dropSuperseded(parent, "corpus_ab_", keep.getName)
    assert(keep.isDirectory, "the live artifact must survive")
    assert(!stale1.exists && !stale2.exists, "older stamps must be deleted")
    assert(other.isDirectory, "artifacts of other sources must survive")
    // a parent that does not exist yet is a no-op, not an error
    ArtifactKey.dropSuperseded(new java.io.File(parent, "nope"), "x_", "y")
    ArtifactKey.rmRecursive(parent)
  }

  /** One content-stamped store: `ensure` builds it for the source dir
    * (whose `t.parquet` is the table of the table-keyed stores), `root`
    * is its store root, `drop` deletes everything it built.
    */
  private case class Stamped(name: String, ensure: String => Unit,
                             root: String => java.io.File, drop: String => Unit)

  private lazy val vectors = (0L until 60L)
    .map(i => (i, Seq.fill(16)(new scala.util.Random(i).nextFloat()))).toDF("vec_id", "embedding")
  private lazy val texts = (0L until 40L)
    .map(i => (i, s"the quick brown fox ${i % 5} jumps over lazy dog item$i")).toDF("doc_id", "text")

  private val stampedStores = {
    import graft.sim._, graft.dedup._
    Seq(
      Stamped("IvfIndex", d => IvfIndex.ensure(spark, d, vectors): Unit,
        IvfIndex.root(_), IvfIndex.drop(_)),
      Stamped("PqIndex", d => PqIndex.ensure(spark, d, vectors): Unit,
        PqIndex.root(_), PqIndex.drop(_)),
      Stamped("IvfPqIndex", d => IvfPqIndex.ensure(spark, d, vectors): Unit,
        IvfPqIndex.root(_), d => { IvfPqIndex.drop(d); IvfIndex.drop(d); PqIndex.drop(d) }),
      Stamped("SrpIndex", d => SrpIndex.ensure(spark, d, vectors, 4): Unit,
        SrpIndex.root(_, 4), SrpIndex.drop(_, 4)),
      Stamped("LshIndex", d => LshIndex.ensure(spark, d, texts): Unit,
        LshIndex.root(_, 3, 8, 4), LshIndex.drop(_)),
      Stamped("HashLedger", d => HashLedger.ensure(spark, d, texts): Unit,
        HashLedger.root(_), HashLedger.drop(_)),
      Stamped("NameIndex", d => er.NameIndex.ensure(spark, d, "t", "all", texts, "text"): Unit,
        er.NameIndex.root(_, "t", "all"), er.NameIndex.drop(_, "t", "all")),
      Stamped("StateStore", d => StateStore.ensure(spark, d, "t", "st", texts): Unit,
        StateStore.root(_, "t", "st"), StateStore.drop(_, "t", "st")),
      Stamped("WeightsIndex", d => ml.WeightsIndex.ensure(spark, d, "t", "all",
          ml.QualityClassifier.featurize(texts.withColumn("n_chars", length(col("text"))),
            "doc_id", "text", "n_chars", col("doc_id") % 2 === 0)): Unit,
        ml.WeightsIndex.root(_, "t", "all"), ml.WeightsIndex.drop(_, "t", "all")))
  }

  stampedStores.foreach { c =>
    test(s"${c.name}: a regenerated source forces a rebuild and GCs the old stamp") {
      // a REAL on-disk source dir, so the content stamp is live
      val src = tmpDir(s"${c.name}_stale_spec")
      val marker = new java.io.File(src, "t.parquet/marker")
      marker.getParentFile.mkdirs()
      java.nio.file.Files.write(marker.toPath, Array[Byte](1))
      c.ensure(src.getPath)
      val oldRoot = c.root(src.getPath)
      assert(StoreLog.open(spark, oldRoot).snapshot.leaves.nonEmpty)
      // regenerate the source (length change → new stamp)
      java.nio.file.Files.write(marker.toPath, Array[Byte](1, 2))
      val newRoot = c.root(src.getPath)
      assert(newRoot.getPath !== oldRoot.getPath,
        "a regenerated source must key a different store root")
      c.ensure(src.getPath)
      assert(StoreLog.open(spark, newRoot).snapshot.leaves.nonEmpty,
        "the rebuild must land under the new stamp")
      assert(!oldRoot.exists, "the cold build must GC the superseded stamp's store")
      c.drop(src.getPath)
      ArtifactKey.rmRecursive(src)
    }
  }

  test("BucketedMirror: a regenerated table re-mirrors and drops the dead " +
    "catalog entry and files") {
    import graft.sink.BucketedMirror
    val src = tmpDir("mirror_stale_spec")
    def writeSource(n: Int): Unit =
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(src, "t.parquet").getPath)
    writeSource(50)
    val m1 = BucketedMirror.ensure(spark, src.getPath, "t", "k", nBuckets = 4)
    assert(m1.count() === 50)
    val tag = ArtifactKey.pathKey(src.getPath)
    def mirrorTables() = spark.sql(s"SHOW TABLES LIKE 'graft_mirror_t_${tag}_*'")
      .select("tableName").as[String].collect().toSeq
    assert(mirrorTables().size === 1)
    // one stamped store directory per content stamp of the source table
    val stampedDir = BucketedMirror.root(src.getPath, "t", 4).getParentFile
    def mirrorDirs() = Option(stampedDir.getParentFile.listFiles).toSeq.flatten
      .filter(_.getName.startsWith(
        ArtifactKey.pathKey(new java.io.File(src, "t.parquet").getPath) + "_"))
    assert(mirrorDirs().size === 1)
    // regenerate the source table with different content
    writeSource(70)
    val m2 = BucketedMirror.ensure(spark, src.getPath, "t", "k", nBuckets = 4)
    assert(m2.count() === 70, "the mirror must serve the regenerated table")
    assert(mirrorTables().size === 1,
      "the dead catalog entry for the old stamp must be dropped")
    assert(mirrorDirs().size === 1 && !stampedDir.exists,
      "the old stamp's mirror files must be GC'd")
    mirrorTables().foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    mirrorDirs().foreach(ArtifactKey.rmRecursive)
    ArtifactKey.rmRecursive(src)
  }

  test("BucketedMirror: two bucket-count variants of the SAME stamp coexist " +
    "(GC only takes superseded stamps)") {
    import graft.sink.BucketedMirror
    val src = tmpDir("mirror_variant_spec")
    (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(src, "t.parquet").getPath)
    val m4 = BucketedMirror.ensure(spark, src.getPath, "t", "k", nBuckets = 4)
    val m8 = BucketedMirror.ensure(spark, src.getPath, "t", "k", nBuckets = 8)
    // the b8 cold build must NOT have deleted the live b4 mirror a held
    // DataFrame still references
    assert(m4.count() === 40 && m8.count() === 40)
    val tag = ArtifactKey.pathKey(src.getPath)
    val live = spark.sql(s"SHOW TABLES LIKE 'graft_mirror_t_${tag}_*'")
      .select("tableName").as[String].collect().toSeq
    assert(live.size === 2, s"both variants must stay registered, got $live")
    live.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    ArtifactKey.rmRecursive(BucketedMirror.root(src.getPath, "t", 4).getParentFile)
    ArtifactKey.rmRecursive(src)
  }

  test("index ensure on an empty corpus is memoized — repeat calls must not " +
    "re-evaluate the corpus") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val dir = "/x/empty_memo_spec"
    graft.sim.IvfIndex.ensure(spark, dir, empty)
    graft.sim.IvfIndex.ensure(spark, dir,
      { fail("empty-corpus reuse must not re-evaluate the corpus"); empty })
    graft.sim.SrpIndex.ensure(spark, dir, empty, nTables = 4)
    graft.sim.SrpIndex.ensure(spark, dir,
      { fail("empty-corpus reuse must not re-evaluate the corpus"); empty },
      nTables = 4)
  }

  test("SrpIndex: a regenerated source keys a different root") {
    import graft.sim.SrpIndex
    val src = tmpDir("srp_stale_spec")
    java.nio.file.Files.write(
      new java.io.File(src, "marker").toPath, Array[Byte](1))
    val r1 = SrpIndex.root(src.getPath, nTables = 4)
    java.nio.file.Files.write(
      new java.io.File(src, "marker").toPath, Array[Byte](1, 2))
    val r2 = SrpIndex.root(src.getPath, nTables = 4)
    assert(r1.getPath !== r2.getPath)
    ArtifactKey.rmRecursive(src)
  }
}
