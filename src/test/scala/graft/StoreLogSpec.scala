package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._

/** The one crash spec of the one commit protocol ([[StoreLog]]): every
  * store that commits through it × every committing operation × both
  * failpoint labels. Each case crashes the operation at the label, then
  * calls an entry point and requires
  *  - the no-crash result: the state before the operation after a crash
  *    at "written" (nothing committed), the state after it at
  *    "committed" (an ensure is its own entry point, so it rebuilds);
  *  - no directory under the store's base that its manifest does not
  *    list;
  *  - a replay of the operation gives the no-crash result. Unkeyed
  *    appends (LshIndex, HashLedger, ZOrderTable) are at-least-once: a
  *    replay after "committed" appends twice, so only their "written"
  *    replay is checked.
  * The catalog-backed stores (EdgeIndex, BucketedMirror) read through
  * their own entry point, which must not find a catalog entry naming an
  * uncommitted leaf.
  */
class StoreLogSpec extends SparkTestBase {
  import spark.implicits._

  private final class Boom(label: String) extends RuntimeException(label)

  /** One committing operation of one store. `read` is an entry point
    * returning the store's content as a sorted row multiset.
    */
  private case class Case(name: String, base: () => Path, reset: () => Unit,
                          setup: () => Unit, run: () => Unit,
                          read: () => Seq[String], rebuilds: Boolean = false,
                          idempotent: Boolean = true)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def local(f: java.io.File): Path = new Path(f.toURI)

  private def vecs(ids: Range, dim: Int): DataFrame =
    ids.map(i => (i.toLong, Seq.fill(dim)(new scala.util.Random(i).nextFloat())))
      .toDF("vec_id", "embedding")

  private val corpus8 = vecs(20 until 80, 8)
  private val batch8 = vecs(0 until 20, 8)
  private val corpus16 = vecs(20 until 80, 16)
  private val batch16 = vecs(0 until 20, 16)
  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"the quick brown fox ${i % 5} jumps over lazy dog item$i"))
      .toDF("doc_id", "text")
  private val texts = docs(0 until 40)
  private val newTexts = docs(40 until 50)
  private def report(m: Double): DataFrame =
    Seq(("completeness", "v", m), ("validity", "w", m / 2))
      .toDF("check_name", "col_name", "metric")
  private def zrows(from: Long, n: Long): DataFrame = spark.range(from, from + n)
    .select(pmod(xxhash64(col("id")), lit(1000)).as("a"),
            pmod(xxhash64(col("id") + 7), lit(1000)).as("b"))
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_storelog").toString

  private val dir = "/x/storelog_spec"
  private val sub = "fp"

  private def ivf(): Unit = sim.IvfIndex.ensure(spark, dir, corpus8, subset = sub): Unit
  private def pq(): Unit = sim.PqIndex.ensure(spark, dir, corpus16, subset = sub): Unit
  private val subPq = "fpq"
  private def ivfpq(): Unit = sim.IvfPqIndex.ensure(spark, dir, corpus16, subset = subPq): Unit
  private def srp(): Unit = sim.SrpIndex.ensure(spark, dir, corpus8, 4, subset = sub): Unit
  private def lsh(): Unit = dedup.LshIndex.ensure(spark, dir, texts, subset = sub): Unit
  private def ledger(): Unit = dedup.HashLedger.ensure(spark, dir, texts, subset = sub): Unit
  private def names(): Unit =
    er.NameIndex.ensure(spark, dir, "part", sub, texts, "text", 3): Unit
  private def seed(): Unit =
    StateStore.ensure(spark, dir, "events", sub, Seq((1L, 10L)).toDF("k", "v")): Unit

  private val ivfCase = Case("IvfIndex", () => local(sim.IvfIndex.root(dir, sub)),
    () => sim.IvfIndex.drop(dir, sub), () => (), () => (),
    () => rows(sim.IvfIndex.ensure(spark, dir, corpus8, subset = sub)._1
      .select("vec_id", "__cell", "__qc", "__sc")))
  private val pqCase = Case("PqIndex", () => local(sim.PqIndex.root(dir, subset = sub)),
    () => sim.PqIndex.drop(dir, subset = sub), () => (), () => (),
    () => rows(sim.PqIndex.ensure(spark, dir, corpus16, subset = sub)._1))
  private val ivfpqCase = Case("IvfPqIndex",
    () => local(sim.IvfPqIndex.root(dir, subset = subPq)),
    () => {
      sim.IvfPqIndex.drop(dir, subPq); sim.IvfIndex.drop(dir, subPq)
      sim.PqIndex.drop(dir, subset = subPq)
    },
    () => {
      sim.IvfIndex.ensure(spark, dir, corpus16, subset = subPq)
      sim.PqIndex.ensure(spark, dir, corpus16, subset = subPq)
    }, () => (),
    () => rows(sim.IvfPqIndex.ensure(spark, dir, corpus16, subset = subPq)._1))
  private val srpCase = Case("SrpIndex", () => local(sim.SrpIndex.root(dir, 4, subset = sub)),
    () => sim.SrpIndex.drop(dir, 4, sub), () => (), () => (),
    () => {
      val h = sim.SrpIndex.ensure(spark, dir, corpus8, 4, subset = sub)
      rows(h.buckets.select("neighbor_id", "__t", "__b", "__grp")) ++
        rows(h.vectors) :+ s"geometry ${h.planes} ${h.groups}"
    })
  private val lshCase = Case("LshIndex",
    () => local(dedup.LshIndex.root(dir, 3, 8, 4, sub)),
    () => dedup.LshIndex.drop(dir, subset = sub), () => (), () => (),
    () => {
      val h = dedup.LshIndex.ensure(spark, dir, texts, subset = sub)
      rows(h.buckets.select("doc_id", "band", "bucket", "bsize")) :+ s"groups ${h.groups}"
    })
  private val ledgerCase = Case("HashLedger",
    () => local(dedup.HashLedger.root(dir, sub)),
    () => dedup.HashLedger.drop(dir, sub), () => (), () => (),
    () => {
      val h = dedup.HashLedger.ensure(spark, dir, texts, subset = sub)
      rows(h.hashes.select("content_md5").distinct()) :+ s"groups ${h.groups}"
    })
  private val namesCase = Case("NameIndex",
    () => local(er.NameIndex.root(dir, "part", sub, 3)),
    () => er.NameIndex.drop(dir, "part", sub, 3), () => (), () => (),
    () => rows(er.NameIndex.ensure(spark, dir, "part", sub, texts, "text", 3)))
  private val stateCase = Case("StateStore",
    () => local(StateStore.root(dir, "events", sub)),
    () => StateStore.drop(dir, "events", sub), () => (), () => (),
    () => StateStore.latest(spark, dir, "events", sub).map(rows).getOrElse(Seq.empty))
  private val reportPath = s"$tmp/report"
  private val reportCase = Case("ReportStore", () => new Path(reportPath),
    () => ArtifactKey.rmRecursive(new java.io.File(reportPath)),
    () => {
      quality.ReportStore.append(report(1.0), reportPath, "p1")
      quality.ReportStore.append(report(0.9), reportPath, "p2")
    }, () => (),
    () => rows(quality.ReportStore.load(spark, reportPath)))
  private val zPath = s"$tmp/ztable"
  private val zCase = Case("ZOrderTable", () => new Path(zPath),
    () => ArtifactKey.rmRecursive(new java.io.File(zPath)),
    () => {
      sink.ZOrderTable.append(zrows(0, 512), Seq("a", "b"), zPath, 2)
      sink.ZOrderTable.append(zrows(512, 256), Seq("a", "b"), zPath, 2)
    }, () => (),
    () => rows(sink.ZOrderTable.read(spark, zPath)))

  // the build-once and catalog-backed stores key on real source tables
  private lazy val src: String = {
    val d = s"$tmp/src"
    spark.range(0, 200).select(col("id").as("k"), pmod(xxhash64(col("id")), lit(97)).as("v"))
      .write.parquet(s"$d/t.parquet")
    texts.withColumn("n_chars", length(col("text"))).write.parquet(s"$d/documents.parquet")
    d
  }
  private def events(n: Long): Unit =
    spark.range(n).toDF("event_id").write.mode("overwrite").parquet(s"$src/events.parquet")
  private val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)).toDF("src", "dst", "n_trans")
  private val delta = Seq((1L, 2L, 1L), (4L, 1L, 5L)).toDF("src", "dst", "n_trans")
  private def views(page: Long): DataFrame = Seq((1L, page), (2L, page + 1)).toDF("user_id", "page")
  private def edgeIndex(): DataFrame =
    graph.EdgeIndex.ensure(spark, src, sub, edges, views = Some(views(5)))
  private def edgeState(): Seq[String] =
    rows(spark.read.parquet(committedLeaf(graph.EdgeIndex.root(src, sub), "edges").getPath)) ++
      graph.EdgeIndex.viewsOf(spark, src, sub).map(rows).getOrElse(Seq.empty)
  private val edgeCase = Case("EdgeIndex", () => local(graph.EdgeIndex.root(src, sub)),
    () => graph.EdgeIndex.drop(spark, src, sub), () => events(10), () => edgeIndex(): Unit,
    () => edgeState(), rebuilds = true)
  private def mirror(): DataFrame = sink.BucketedMirror.ensure(spark, src, "t", "k", nBuckets = 4)
  private def zmirror(): DataFrame = sink.ZOrderMirror.ensure(spark, src, "t", Seq("k", "v"))
  private def features: DataFrame = ml.QualityClassifier.featurize(
    spark.read.parquet(s"$src/documents.parquet"), "doc_id", "text", "n_chars",
    col("doc_id") % 2 === 0)
  private def weights(): Seq[String] = {
    val (w, n) = ml.WeightsIndex.ensure(spark, src, "documents", sub, features)
    w.toSeq.map(_.toString) :+ s"n_docs $n"
  }
  private def media(): DataFrame = multimodal.Multimodal.syntheticMediaTable(spark, src)

  private val cases = Seq(
    ivfCase.copy(name = "IvfIndex.ensure", run = () => ivf(), rebuilds = true),
    ivfCase.copy(name = "IvfIndex.append", setup = () => ivf(),
      run = () => sim.IvfIndex.append(spark, dir, "b1", batch8, subset = sub): Unit),
    ivfCase.copy(name = "IvfIndex.compact", setup = () => {
      ivf(); sim.IvfIndex.append(spark, dir, "b1", batch8, subset = sub)
    }, run = () => sim.IvfIndex.compact(spark, dir, sub): Unit),
    pqCase.copy(name = "PqIndex.ensure", run = () => pq(), rebuilds = true),
    pqCase.copy(name = "PqIndex.append", setup = () => pq(),
      run = () => sim.PqIndex.append(spark, dir, "b1", batch16, subset = sub): Unit),
    pqCase.copy(name = "PqIndex.compact", setup = () => {
      pq(); sim.PqIndex.append(spark, dir, "b1", batch16, subset = sub)
    }, run = () => sim.PqIndex.compact(spark, dir, subset = sub): Unit),
    ivfpqCase.copy(name = "IvfPqIndex.ensure", run = () => ivfpq(), rebuilds = true),
    ivfpqCase.copy(name = "IvfPqIndex.append",
      setup = () => { ivfpqCase.setup(); ivfpq() },
      run = () => sim.IvfPqIndex.append(spark, dir, "b1", batch16, subset = subPq): Unit),
    ivfpqCase.copy(name = "IvfPqIndex.compact", setup = () => {
      ivfpqCase.setup(); ivfpq()
      sim.IvfPqIndex.append(spark, dir, "b1", batch16, subset = subPq)
    }, run = () => sim.IvfPqIndex.compact(spark, dir, subPq): Unit),
    srpCase.copy(name = "SrpIndex.ensure", run = () => srp(), rebuilds = true),
    srpCase.copy(name = "SrpIndex.append", setup = () => srp(),
      run = () => sim.SrpIndex.append(spark, dir, 4, "b1", batch8, subset = sub): Unit),
    srpCase.copy(name = "SrpIndex.compact", setup = () => {
      srp(); sim.SrpIndex.append(spark, dir, 4, "b1", batch8, subset = sub)
    }, run = () => sim.SrpIndex.compact(spark, dir, 4, sub): Unit),
    lshCase.copy(name = "LshIndex.ensure", run = () => lsh(), rebuilds = true),
    lshCase.copy(name = "LshIndex.append", setup = () => lsh(), idempotent = false,
      run = () => dedup.LshIndex.append(spark, dir, newTexts, subset = sub): Unit),
    lshCase.copy(name = "LshIndex.compact", setup = () => {
      lsh(); dedup.LshIndex.append(spark, dir, newTexts, subset = sub)
    }, run = () => dedup.LshIndex.compact(spark, dir, subset = sub): Unit),
    ledgerCase.copy(name = "HashLedger.ensure", run = () => ledger(), rebuilds = true),
    ledgerCase.copy(name = "HashLedger.append", setup = () => ledger(), idempotent = false,
      run = () => dedup.HashLedger.append(spark, dir,
        newTexts.select(md5(col("text")).as("content_md5")), sub): Unit),
    ledgerCase.copy(name = "HashLedger.compact", setup = () => {
      ledger()
      dedup.HashLedger.append(spark, dir,
        newTexts.select(md5(col("text")).as("content_md5")), sub)
    }, run = () => dedup.HashLedger.compact(spark, dir, sub): Unit),
    namesCase.copy(name = "NameIndex.ensure", run = () => names(), rebuilds = true),
    namesCase.copy(name = "NameIndex.append", setup = () => names(),
      run = () => er.NameIndex.append(spark, dir, "part", sub, newTexts, "text", 3): Unit),
    stateCase.copy(name = "StateStore.ensure", run = () => seed(),
      read = () => rows(StateStore.ensure(spark, dir, "events", sub,
        Seq((1L, 10L)).toDF("k", "v"))), rebuilds = true),
    stateCase.copy(name = "StateStore.advance", setup = () => {
      seed(); StateStore.advance(spark, dir, "events", sub, "0001", Seq((1L, 20L)).toDF("k", "v"))
    }, run = () => StateStore.advance(spark, dir, "events", sub, "0002",
      Seq((1L, 30L)).toDF("k", "v")): Unit),
    reportCase.copy(name = "ReportStore.append",
      run = () => quality.ReportStore.append(report(0.8), reportPath, "p2")),
    reportCase.copy(name = "ReportStore.compact",
      run = () => quality.ReportStore.compact(spark, reportPath)),
    zCase.copy(name = "ZOrderTable.append", idempotent = false,
      run = () => sink.ZOrderTable.append(zrows(768, 256), Seq("a", "b"), zPath, 2)),
    zCase.copy(name = "ZOrderTable.compact",
      run = () => sink.ZOrderTable.compact(spark, zPath, Seq("a", "b"), 2)),
    edgeCase.copy(name = "EdgeIndex.ensure",
      read = () => rows(edgeIndex()) ++ edgeState()),
    edgeCase.copy(name = "EdgeIndex.append", rebuilds = false,
      setup = () => { events(10); edgeIndex(); events(20) },
      run = () => graph.EdgeIndex.append(spark, src, sub, delta, views = Some(views(7))): Unit),
    Case("BucketedMirror.ensure", () => local(sink.BucketedMirror.root(src, "t", 4)),
      () => {
        sink.Sinks.dropTables(spark, s"graft_mirror_t_${ArtifactKey.pathKey(src)}_*")
        ArtifactKey.rmRecursive(sink.BucketedMirror.root(src, "t", 4))
      }, () => (), () => mirror(): Unit, () => rows(mirror()), rebuilds = true),
    Case("ZOrderMirror.ensure", () => local(sink.ZOrderMirror.root(src, "t", Seq("k", "v"))),
      () => sink.ZOrderMirror.drop(src, "t", Seq("k", "v")), () => (), () => zmirror(): Unit,
      () => rows(zmirror()), rebuilds = true),
    Case("WeightsIndex.ensure", () => local(ml.WeightsIndex.root(src, "documents", sub)),
      () => ml.WeightsIndex.drop(src, "documents", sub), () => (), () => weights(): Unit,
      () => weights(), rebuilds = true),
    Case("media fixture", () => local(multimodal.Multimodal.fixtureRoot(spark, src, "media")),
      () => ArtifactKey.rmRecursive(multimodal.Multimodal.fixtureRoot(spark, src, "media")),
      () => (), () => media(): Unit,
      () => rows(media().withColumn("bytes", md5(col("bytes")))), rebuilds = true))

  /** Children of `base` that its latest manifest does not list, read
    * without opening the store (opening would sweep them).
    */
  private def unlisted(base: Path): Set[String] = {
    val listed = new HDFSMetadataLog[StoreSnapshot](spark, new Path(base, "_log").toString)
      .getLatest().map(_._2.dirs).getOrElse(Set.empty) + "_log"
    Option(new java.io.File(base.toUri.getPath).list()).toSet.flatten -- listed
  }

  cases.foreach { c =>
    test(s"${c.name}: a crash at 'written' or 'committed' recovers at the next entry point") {
      c.reset(); c.setup()
      val before = if (c.rebuilds) Seq.empty else c.read()
      c.run()
      val want = c.read()
      Seq("written", "committed").foreach { label =>
        c.reset(); c.setup()
        val boom = intercept[Boom] {
          StoreLog.failpoint.withValue(p => if (p == label) throw new Boom(p))(c.run())
        }
        assert(boom.getMessage === label)
        val got = c.read()
        assert(got === (if (label == "committed" || c.rebuilds) want else before),
          s"${c.name} after a crash at $label")
        assert(unlisted(c.base()).isEmpty, s"${c.name} left garbage after a crash at $label")
        if (label == "written" || c.idempotent) {
          c.run()
          assert(c.read() === want, s"${c.name} replayed after a crash at $label")
        }
      }
      c.reset()
    }
  }

  test("a store whose layout version moved builds fresh beside its previous " +
       "layout's directory and never reads it") {
    def stamp(table: String) = ContentStamp(s"$src/$table.parquet")
    def bumped(root: java.io.File, from: String, to: String) =
      new java.io.File(root.getPath.replace(from, to))
    // where the previous layout kept each store (a `_SUCCESS`-marked leaf)
    val previous = Map[String, () => java.io.File](
      "EdgeIndex.ensure" -> (() => new java.io.File(
        s"target/edge_index/v1/${ArtifactKey.pathKey(src)}/${sub}_b16_s${stamp("events")}")
        .getAbsoluteFile),
      "BucketedMirror.ensure" -> (() => new java.io.File(
        s"target/bucketed_mirror/${ArtifactKey.pathKey(src)}/t_b4_s${stamp("t")}")
        .getAbsoluteFile),
      "ZOrderMirror.ensure" -> (() => bumped(sink.ZOrderMirror.root(src, "t", Seq("k", "v")),
        "/zorder_mirror/v3/", "/zorder_mirror/v2/")),
      "WeightsIndex.ensure" -> (() => bumped(ml.WeightsIndex.root(src, "documents", sub),
        "/weights_index/v2/", "/weights_index/v1/")))
    val stores = cases.filter(c => previous.contains(c.name))
    assert(stores.size === previous.size)
    stores.foreach { c =>
      c.reset(); c.setup()
      val want = c.read()
      c.reset(); c.setup()
      val old = previous(c.name)()
      Seq((-1L, -1L)).toDF("k", "v").write.parquet(old.getPath)
      assert(c.read() === want, s"${c.name} served its previous layout's directory")
      assert(new java.io.File(old, "_SUCCESS").isFile,
        s"${c.name} touched its previous layout's directory")
      ArtifactKey.rmRecursive(old)
      c.reset()
    }
  }

  test("a second writer committing the same manifest version fails loudly") {
    val base = new java.io.File(s"$tmp/race")
    val a = StoreLog.open(spark, base)
    val b = StoreLog.open(spark, base)
    a.commit(StoreSnapshot(meta = Map("w" -> "a")))
    val ex = intercept[IllegalArgumentException] {
      b.commit(StoreSnapshot(meta = Map("w" -> "b")))
    }
    assert(ex.getMessage.contains("another writer"))
    assert(StoreLog.open(spark, base).snapshot.meta === Map("w" -> "a"))
  }

  test("a base holding data without a manifest is refused, not swept") {
    val base = new java.io.File(s"$tmp/legacy")
    assert(new java.io.File(base, "part-0.parquet").mkdirs())
    val ex = intercept[IllegalArgumentException](StoreLog.open(spark, base))
    assert(ex.getMessage.contains("_log"))
    assert(new java.io.File(base, "part-0.parquet").exists())
  }
}
