package graft

import org.apache.spark.sql.functions._
import graft.ml.QualityClassifier

/** [[graft.ml.QualityClassifier]] — relational softsign-GD fit:
  * featurization, convergence on a separable fixture, partition-order
  * invariance of the trained weights (the decimal-sum discipline), and
  * the exact z ≥ 0 prediction threshold.
  */
class QualityClassifierSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    // 10 long docs (y=1) and 10 short (y=0), trivially separable on x1/x2
    (1L to 10L).map(i => (i, ("alpha beta " * 40).trim, 439L)) ++
      (11L to 20L).map(i => (i, "alpha beta", 10L)): _*
  ).toDF("doc_id", "text", "n_chars")

  private def feats = QualityClassifier.featurize(
    docs, "doc_id", "text", "n_chars", col("n_chars") >= 256)

  test("featurize emits centered doubles and the 0/1 label") {
    val r = feats.filter(col("doc_id") === 1L).head()
    assert(r.getAs[Double]("x0") === 1.0)
    assert(r.getAs[Double]("x1") === math.log(1.0 + 439.0) - 5.5)
    assert(r.getAs[Double]("x2") === 80.0 / 100.0 - 0.5)
    // "alpha beta " * 40 trimmed: 120 'a' chars over 439
    assert(r.getAs[Double]("x3") === 120.0 / 439.0)
    assert(r.getAs[Double]("y") === 1.0)
  }

  test("zero-char docs featurize (ANSI-safe) and empty corpora fit to init") {
    // a zero-char document must not abort the scan with DIVIDE_BY_ZERO;
    // its 'a'-rate feature is the centered zero
    val weird = Seq((99L, "", 0L)).toDF("doc_id", "text", "n_chars")
    val f = QualityClassifier.featurize(
      weird, "doc_id", "text", "n_chars", col("n_chars") >= 256).head()
    assert(f.getAs[Double]("x3") === 0.0 && f.getAs[Double]("y") === 0.0)
    // zero documents: no gradient exists — weights stay at init, no NPE
    val w = QualityClassifier.trainWeights(feats.filter(lit(false)))
    assert(w.toSeq === Seq(0.0, 0.0, 0.0, 0.0))
    // all-null texts: x2/x3 and therefore every gradient term are NULL —
    // the null components skip their update instead of NPE-ing mid-fit
    val nullDocs = Seq((1L, null: String, 5L), (2L, null: String, 9L))
      .toDF("doc_id", "text", "n_chars")
    val wNull = QualityClassifier.trainWeights(QualityClassifier.featurize(
      nullDocs, "doc_id", "text", "n_chars", col("n_chars") >= 256))
    assert(wNull.forall(v => !v.isNaN))
  }

  test("GD fit separates the separable fixture perfectly") {
    val scored = QualityClassifier.score(feats, "doc_id")
      .as[(Long, Double, Long, Long)].collect()
    assert(scored.length === 20)
    assert(scored.forall { case (_, _, pred, label) => pred === label })
    // probabilities sit on the right side of 0.5 too
    assert(scored.forall { case (_, p, _, l) => if (l == 1L) p > 0.5 else p < 0.5 })
  }

  test("trained weights are bit-identical under repartitioning") {
    // the decimal(20,10) gradient accumulation makes the fit independent
    // of partial-aggregation order — the property that lets the oracle
    // replay an ITERATED computation exactly
    val w1 = QualityClassifier.train(feats.repartition(1)).head()
    val w7 = QualityClassifier.train(feats.repartition(7, col("doc_id"))).head()
    (0 until 4).foreach { i =>
      assert(w1.getDouble(i) === w7.getDouble(i),
        s"b$i diverged across partitionings")
    }
  }

  test("trainedWeights publishes rounded weights plus corpus size") {
    val r = QualityClassifier.trainedWeights(feats).head()
    assert(r.getAs[Long]("n_docs") === 20L)
    assert(r.getAs[Double]("w1") > 0.0) // longer docs score higher
  }

  test("scoreWith under the fit's own weights is IDENTICAL to fit-then-score") {
    val w = QualityClassifier.trainWeights(feats)
    val viaWeights = QualityClassifier.scoreWith(feats, "doc_id", w.toSeq)
      .as[(Long, Double, Long, Long)].collect().toSet
    val oneShot = QualityClassifier.score(feats, "doc_id")
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(viaWeights === oneShot)
  }

  test("WeightsIndex: builds once, warm ensure never evaluates the corpus, " +
       "weights round-trip bit-exactly, and hyperparams key the artifact") {
    import graft.ml.WeightsIndex
    val dir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val f = QualityClassifier.featurize(
      corpus, "doc_id", "text", "n_chars", col("n_chars") >= 256)
    WeightsIndex.drop(dir, "documents", "spec")
    val (w1, n1) = WeightsIndex.ensure(spark, dir, "documents", "spec", f)
    val inline = QualityClassifier.trainWeightsAndCount(f)
    assert(w1.toSeq === inline._1.toSeq,
      "persisted weights must be the identical IEEE doubles the fit produced")
    assert(n1 === inline._2)
    val success = new java.io.File(
      committedLeaf(WeightsIndex.root(dir, "documents", "spec"), "weights"), "_SUCCESS")
    assert(success.isFile)
    val stamp = success.lastModified
    val (w2, n2) = WeightsIndex.ensure(spark, dir, "documents", "spec",
      { fail("warm ensure must not evaluate the training corpus"); f })
    assert(success.lastModified === stamp, "reuse must not rewrite the artifact")
    assert(w2.toSeq === w1.toSeq && n2 === n1)
    // a different hyperparameter set is a DIFFERENT model — separate key,
    // separate fit (the PqIndex-geometry discipline)
    assert(WeightsIndex.root(dir, "documents", "spec", iters = 4).getPath !==
      WeightsIndex.root(dir, "documents", "spec").getPath)
    WeightsIndex.drop(dir, "documents", "spec")
  }
}
