package graft
package query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `ml` family: the relational full-batch gradient-descent quality
  * classifier (the fasttext quality-scoring rung); its softsign link keeps
  * the iterated fit bit-replayable across engines.
  */
private[graft] object MlQueries {

  /** Shared ml-family input: document features + the lang='en' label. */
  private def mlFeatures(s: SparkSession, d: String): DataFrame =
    graft.ml.QualityClassifier.featurize(
      Tables(s, d, "documents"), "doc_id", "text", "n_chars",
      col("n_chars") >= 256)

  /** Shared ml-family fit: [[mlFeatures]]' 8-epoch softsign GD behind the
    * persisted [[graft.ml.WeightsIndex]] — the corpus is featurized and
    * scanned once per documents snapshot; ml1–ml3 then read the 1-row
    * artifact (bit-exact through parquet).
    */
  private def mlWeights(s: SparkSession, d: String): (Array[Double], Long) =
    graft.ml.WeightsIndex.ensure(s, d, "documents", "en256", mlFeatures(s, d))

  /** Shared ml-family oracle prefix: featurization + 8 unrolled softsign
    * GD steps ([[graft.ml.QualityClassifier]] replayed literally; lr=8
    * and every other constant is exactly binary-representable, so no
    * double-vs-decimal literal drift exists anywhere in the fit).
    */
  private lazy val mlFitCte: String = {
    val steps = (0 until 8).map { i =>
      s"""z$i AS (SELECT f.*, b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3 AS z FROM f CROSS JOIN w$i),
         |t$i AS (SELECT z$i.*, (0.5 + 0.5 * z / (1 + abs(z)) - y) / ((1 + abs(z)) * (1 + abs(z))) AS t FROM z$i),
         |g$i AS (SELECT CAST(sum(CAST(t * x0 AS DECIMAL(20,10))) AS DOUBLE) AS g0,
         |  CAST(sum(CAST(t * x1 AS DECIMAL(20,10))) AS DOUBLE) AS g1,
         |  CAST(sum(CAST(t * x2 AS DECIMAL(20,10))) AS DOUBLE) AS g2,
         |  CAST(sum(CAST(t * x3 AS DECIMAL(20,10))) AS DOUBLE) AS g3 FROM t$i),
         |w${i + 1} AS (SELECT b0 - 8 * g0 / n AS b0, b1 - 8 * g1 / n AS b1,
         |  b2 - 8 * g2 / n AS b2, b3 - 8 * g3 / n AS b3
         |  FROM w$i CROSS JOIN g$i CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""f AS (SELECT doc_id,
       |  CAST(1 AS DOUBLE) AS x0,
       |  ln(CAST(1 AS DOUBLE) + n_chars) - 5.5 AS x1,
       |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS DOUBLE) / 100.0 - 0.5 AS x2,
       |  CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(len(text) - len(replace(text, 'a', '')) AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS x3,
       |  CASE WHEN n_chars >= 256 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
       | FROM documents),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |w0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,
       |  CAST(0 AS DOUBLE) AS b2, CAST(0 AS DOUBLE) AS b3),
       |$steps""".stripMargin
  }

  val family: Family = Family("ml", "relational GD quality classifier",
    impl = "graft.ml.QualityClassifier",
    specs = "QualityClassifierSpec", queries = Seq(
    // plan: one map-side-combined gradient aggregate per epoch over the cached features
    Query("ml1_quality_weights", (s, d) => {
      val (w, n) = mlWeights(s, d)
      graft.ml.QualityClassifier.weightsSummary(s, w, n)
    },
      // ml family: the softsign-GD fit unrolled to CTEs (every constant
      // exactly representable in binary, every double sum decimal-stable —
      // the weights replay bit-identically; QualityClassifier scaladoc)
      Sql(s"""WITH $mlFitCte
         |SELECT round(b0 * 1000000) / 1000000.0 + 0.0 AS w0,
         |  round(b1 * 1000000) / 1000000.0 + 0.0 AS w1,
         |  round(b2 * 1000000) / 1000000.0 + 0.0 AS w2,
         |  round(b3 * 1000000) / 1000000.0 + 0.0 AS w3,
         |  nd.n_docs
         |FROM w8 CROSS JOIN (SELECT count(*) AS n_docs FROM f) nd""".stripMargin)),

    Query("ml2_quality_scores", (s, d) =>
      graft.ml.QualityClassifier.scoreWith(mlFeatures(s, d), "doc_id",
        mlWeights(s, d)._1.toSeq),
      Sql(s"""WITH $mlFitCte
         |SELECT doc_id,
         |  round((0.5 + 0.5 * z / (1 + abs(z))) * 1000000) / 1000000.0 + 0.0 AS quality_score,
         |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted,
         |  CAST(y AS BIGINT) AS label
         |FROM (SELECT f.*, b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3 AS z
         |      FROM f CROSS JOIN w8)""".stripMargin)),

    // the incremental shape (the m9→m12 / d15 "only the batch pays"
    // pattern): a daily batch — here the doc_id % 7 slice — scored
    // under STANDING weights read from the persisted fit; no training-
    // corpus scan, no fit, one codegen'd pass over the batch
    // plan: scans only the batch slice: no fit, no training-corpus scan
    Query("ml3_incremental_scores", (s, d) =>
      graft.ml.QualityClassifier.scoreWith(
        mlFeatures(s, d).filter(pmod(col("doc_id"), lit(7L)) === 0),
        "doc_id", mlWeights(s, d)._1.toSeq),
      // ml3: the engine scores the batch slice under PERSISTED standing
      // weights (no fit at query time); the oracle replays the full fit
      // and scores the same slice — one semantic truth, two paths (the
      // d15/d16 oracle relationship)
      Sql(s"""WITH $mlFitCte
         |SELECT doc_id,
         |  round((0.5 + 0.5 * z / (1 + abs(z))) * 1000000) / 1000000.0 + 0.0 AS quality_score,
         |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted,
         |  CAST(y AS BIGINT) AS label
         |FROM (SELECT f.*, b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3 AS z
         |      FROM f CROSS JOIN w8)
         |WHERE doc_id % 7 = 0""".stripMargin))))
}
