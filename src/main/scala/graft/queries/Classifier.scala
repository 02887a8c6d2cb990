package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.QualityClassifier

/** Declared queries for the in-engine trained quality classifier
  * ([[graft.operators.QualityClassifier]]): the fastText-style quality
  * filter stage, distilling the q97 rule cascade into linear scorers over
  * hashed text features — TRAINING INCLUDED in the oracle check, not just
  * scoring. q120 is the closed-form centroid model; q121 is three unrolled
  * full-batch logistic-GD iterations whose weight trajectory is r6-snapped
  * on both engines so DuckDB replays the identical training run.
  */
object Classifier {

  /** Per-dataset FEATURE STORE: the classifier family's hashed-feature
    * frame and cascade labels, built once per dataset version and
    * persisted to a scratch parquet (the Ann/Pq index precedent — and
    * the production shape: featurize once, consume everywhere). Six declared queries
    * (q120/q121/q129/q134/q137/q141) consume the same deterministic
    * frames; without the store each re-featurized the corpus per sweep.
    * Row ORDER differs from the in-plan form after the parquet round
    * trip, which is exactly the reordering the repo's r6-snap grid
    * absorbs (1e-6 grid vs ~1e-13 partial-sum noise); every consumer's
    * oracle hash is re-verified against the store-backed path.
    */
  private[queries] def cachedFeatLab(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val p = graft.Artifacts.onDisk("qfeat", s, dir) { out =>
      val docs = Tables.documents(s, dir)
      QualityClassifier.features(docs)
        .write.mode("overwrite").parquet(s"$out/feat")
      QualityClassifier.cascadeLabels(docs)
        .write.mode("overwrite").parquet(s"$out/lab")
    }
    (s.read.parquet(s"$p/feat"), s.read.parquet(s"$p/lab"))
  }

  /** The trained centroid scorer's output, once per dataset version: five
    * declared queries (q120/q129/q134/q137/q141) consume the identical
    * deterministic `(doc_id, score, pred, y)` frame — training it once is
    * the feature-store argument one level up (score once, consume
    * everywhere). Lazy checkpoint: materializes at first use, reused
    * after; values are identical to the inline form by determinism.
    * Session-keyed: the cached frame is localCheckpoint'd and therefore
    * BOUND to the session that built it — a second session in the same
    * JVM must train its own copy rather than receive a frame whose
    * checkpoint blocks live in another session's state (the values are
    * identical by determinism; only the binding differs).
    */
  private[queries] def cachedCentroidScores(s: SparkSession,
      dir: String): DataFrame =
    graft.Artifacts.sessionFrame("centroid_scores", s, dir) {
      val (feat, labels) = cachedFeatLab(s, dir)
      QualityClassifier.centroidScores(feat, labels).localCheckpoint(false)
    }

  /** Shared oracle SQL prelude: long-form features (q96's hashed slots +
    * length/diversity/bias) and cascade labels, kept textually in sync with
    * [[QualityClassifier.features]] / [[QualityClassifier.cascadeLabels]].
    */
  private[queries] val featSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 AS slot
      |  FROM t WHERE tok <> ''
      |), c AS (
      |  SELECT doc_id, slot, COUNT(*) AS c FROM s GROUP BY 1, 2
      |), hashed AS (
      |  SELECT doc_id, CAST(slot AS INT) AS slot,
      |    FLOOR(c / sqrt(SUM(c * c) OVER (PARTITION BY doc_id)) * 10000 + 0.5)
      |      / 10000.0 AS x
      |  FROM c
      |), eng AS (
      |  SELECT doc_id,
      |    FLOOR(ln(GREATEST(n_chars, 1) / 300.0) * 10000 + 0.5) / 10000.0 AS x_len,
      |    FLOOR((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) - 0.5) * 10000 + 0.5) / 10000.0 AS x_div
      |  FROM documents
      |), feat AS (
      |  SELECT doc_id, slot, x FROM hashed
      |  UNION ALL SELECT doc_id, 16, x_len FROM eng
      |  UNION ALL SELECT doc_id, 17, x_div FROM eng
      |  UNION ALL SELECT doc_id, 18, 1.0 FROM documents
      |), lab AS (
      |  SELECT doc_id, CAST(CASE WHEN n_chars >= 100 AND n_chars <= 500
      |    AND (len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' ')))) * 100
      |        <= len(string_split(text, ' ')) * 55
      |    AND lang IN ('en', 'de', 'fr', 'es', 'zh') THEN 1.0 ELSE 0.0 END
      |    AS DOUBLE) AS y
      |  FROM documents
      |)""".stripMargin

  /** q120: centroid (Rocchio) classifier, trained AND scored in one plan. */
  private def q120(s: SparkSession, dir: String): DataFrame =
    cachedCentroidScores(s, dir).orderBy(col("doc_id"))

  /** Centroid training + scoring as reusable CTEs ending in
    * `scores(doc_id, score, pred)` — q120's oracle body, also composed
    * by q129's budget-fill oracle. */
  private[queries] val centroidScoreCtes =
    """, nc AS (
      |  SELECT y, COUNT(*) AS n_c FROM lab GROUP BY 1
      |), mu AS (
      |  SELECT f.slot, l.y,
      |    FLOOR(SUM(f.x) / ANY_VALUE(nc.n_c) * 1000000 + 0.5) / 1000000.0 AS mu
      |  FROM feat f JOIN lab l USING (doc_id) JOIN nc ON nc.y = l.y
      |  GROUP BY f.slot, l.y
      |), w AS (
      |  SELECT slot,
      |    SUM(CASE WHEN y = 1.0 THEN mu ELSE -mu END) AS w,
      |    SUM(CASE WHEN y = 1.0 THEN mu * mu ELSE -mu * mu END) AS sqdiff
      |  FROM mu GROUP BY 1
      |), b AS (
      |  SELECT -SUM(sqdiff) / 2 AS b FROM w
      |), dots AS (
      |  SELECT f.doc_id, SUM(f.x * w.w) AS dot
      |  FROM feat f JOIN w ON w.slot = f.slot GROUP BY 1
      |), scores AS (
      |  SELECT d.doc_id,
      |    FLOOR((d.dot + b.b) * 10000 + 0.5) / 10000.0 AS score,
      |    (d.dot + b.b) > 0 AS pred
      |  FROM dots d CROSS JOIN b
      |)""".stripMargin

  private val q120Sql = featSql + centroidScoreCtes +
    """
      |SELECT s.doc_id, s.score, s.pred, l.y
      |FROM scores s JOIN lab l ON l.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** q121: logistic regression, 3 unrolled full-batch GD iterations
    * (lr = 0.5, l2 = 0, weights r6-snapped per update — both engines replay
    * the same trajectory). Training runs at plan-construction time via
    * bounded 19-row gradient collects (the k-means-trainer pattern; the
    * SQL-TVF determination in DESIGN.md §5 covers the same property).
    */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    // the feature store replaces the per-query localCheckpoint: the
    // parquet frames are already materialized once per dataset version
    val (feat, labels) = cachedFeatLab(s, dir)
    val w = QualityClassifier.trainLogistic(feat, labels, iters = 3, lr = 0.5)
    QualityClassifier.score(feat, w)
      .join(labels, "doc_id")
      .select(col("doc_id"), col("p"), col("pred"), col("y"))
      .orderBy(col("doc_id"))
  }

  private val q121Sql = featSql +
    """, n AS (
      |  SELECT COUNT(*) AS n FROM lab
      |), w1 AS (
      |  SELECT f.slot, FLOOR((0.0 - 0.5 * (SUM(f.x * (0.5 - l.y)) / ANY_VALUE(n.n)))
      |    * 1000000 + 0.5) / 1000000.0 AS w
      |  FROM feat f JOIN lab l USING (doc_id) CROSS JOIN n
      |  GROUP BY f.slot
      |), m1 AS (
      |  SELECT f.doc_id, SUM(f.x * w1.w) AS m
      |  FROM feat f JOIN w1 ON w1.slot = f.slot GROUP BY 1
      |), w2 AS (
      |  SELECT f.slot, FLOOR((ANY_VALUE(w1.w) - 0.5 *
      |      (SUM(f.x * (1.0 / (1.0 + exp(-m1.m)) - l.y)) / ANY_VALUE(n.n)))
      |    * 1000000 + 0.5) / 1000000.0 AS w
      |  FROM feat f JOIN lab l USING (doc_id) JOIN m1 ON m1.doc_id = f.doc_id
      |    JOIN w1 ON w1.slot = f.slot CROSS JOIN n
      |  GROUP BY f.slot
      |), m2 AS (
      |  SELECT f.doc_id, SUM(f.x * w2.w) AS m
      |  FROM feat f JOIN w2 ON w2.slot = f.slot GROUP BY 1
      |), w3 AS (
      |  SELECT f.slot, FLOOR((ANY_VALUE(w2.w) - 0.5 *
      |      (SUM(f.x * (1.0 / (1.0 + exp(-m2.m)) - l.y)) / ANY_VALUE(n.n)))
      |    * 1000000 + 0.5) / 1000000.0 AS w
      |  FROM feat f JOIN lab l USING (doc_id) JOIN m2 ON m2.doc_id = f.doc_id
      |    JOIN w2 ON w2.slot = f.slot CROSS JOIN n
      |  GROUP BY f.slot
      |), m3 AS (
      |  SELECT f.doc_id, SUM(f.x * w3.w) AS m
      |  FROM feat f JOIN w3 ON w3.slot = f.slot GROUP BY 1
      |)
      |SELECT m3.doc_id,
      |  FLOOR((1.0 / (1.0 + exp(-m3.m))) * 10000 + 0.5) / 10000.0 AS p,
      |  m3.m > 0 AS pred, l.y
      |FROM m3 JOIN lab l ON l.doc_id = m3.doc_id
      |ORDER BY m3.doc_id""".stripMargin

  /** q137: curriculum ordering (Bengio et al. 2009) — the trained quality
    * score quantiles define difficulty bands (band 1 = highest-scored =
    * "easiest" first), and WITHIN each band documents are shuffled by the
    * repo's deterministic md5 order (the q69 convention), so the training
    * stream is easy→hard across bands but unordered inside one — the
    * standard curriculum schedule, reproducible in any engine. Emits
    * (band, pos, doc_id, score): global training position = (band, pos).
    *
    * Scale note (DESIGN §2's low-cardinality-window ledger): the declared
    * form's global ntile is a one-task sort at corpus scale; the 100 TB
    * form computes the 3 score cut points first (one aggregate over the
    * score distribution — exact via the q93 distribution pattern or
    * approx_percentile) and assigns bands scan-side with a CASE, which is
    * semantically identical up to boundary ties. The per-band position
    * window partitions on `band` and is fine (4 partitions × hash order —
    * the same shape as q69's sharded shuffle with band as the shard).
    */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val scores = cachedCentroidScores(s, dir)
      .select(col("doc_id"), col("score"))
    val bandW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val h = graft.functions.TextHash.h60(
      concat(lit("cur:"), col("doc_id").cast("string")))
    val posW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("hkey"), col("doc_id"))
    scores
      .withColumn("band", ntile(4).over(bandW))
      .withColumn("hkey", h)
      .withColumn("pos", row_number().over(posW))
      .select(col("band"), col("pos"), col("doc_id"), col("score"))
      .orderBy(col("band"), col("pos"))
  }

  private val q137Sql = featSql + centroidScoreCtes +
    """
      |SELECT band, CAST(ROW_NUMBER() OVER (PARTITION BY band
      |    ORDER BY ('0x' || substr(md5('cur:' || doc_id::VARCHAR), 1, 15))::BIGINT,
      |      doc_id) AS INT) AS pos,
      |  doc_id, score
      |FROM (
      |  SELECT doc_id, score,
      |    CAST(NTILE(4) OVER (ORDER BY score DESC, doc_id) AS INT) AS band
      |  FROM scores)
      |ORDER BY band, pos""".stripMargin

  /** q141: Platt-calibrated quality probabilities
    * ([[QualityClassifier.calibratePlatt]]) — the centroid scorer's raw
    * margins mapped to probabilities by a sigmoid fitted in-engine (4 GD
    * rounds on (a, b), r6-snapped per update). The oracle replays
    * featurize → centroid train → score → all four calibration rounds →
    * final calibrated probability per document; `sc2`/`ab{t}` CTEs are
    * MATERIALIZED (each is referenced by both the next gradient and the
    * next update — the q134 DuckDB-inlining lesson).
    */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val sc = cachedCentroidScores(s, dir)
      .select(col("doc_id"), col("score"), col("y"))
    val (a, b) = QualityClassifier.calibratePlatt(sc, "score", "y",
      iters = 4, lr = 0.5)
    sc.select(col("doc_id"), col("score"), col("y"),
      Parity.r4(lit(1.0) / (lit(1.0) +
        exp(-(lit(a) * col("score") + lit(b))))).as("p_cal"))
      .orderBy(col("doc_id"))
  }

  private def q141Sql: String = {
    val sb = new StringBuilder(featSql + centroidScoreCtes)
    sb.append(
      """, sc2 AS MATERIALIZED (
        |  SELECT s.doc_id, s.score, l.y
        |  FROM scores s JOIN lab l USING (doc_id)
        |), ab0 AS (
        |  SELECT 1.0 AS a, 0.0 AS b
        |)""".stripMargin)
    for (t <- 1 to 4) {
      sb.append(s"""
        |, g$t AS (
        |  SELECT
        |    SUM(s.score * (1.0 / (1.0 + exp(-(ab.a * s.score + ab.b))) - s.y))
        |      / COUNT(*) AS ga,
        |    SUM(1.0 / (1.0 + exp(-(ab.a * s.score + ab.b))) - s.y)
        |      / COUNT(*) AS gb
        |  FROM sc2 s, ab${t - 1} ab
        |), ab$t AS MATERIALIZED (
        |  SELECT FLOOR((ab.a - 0.5 * g.ga) * 1000000 + 0.5) / 1000000.0 AS a,
        |    FLOOR((ab.b - 0.5 * g.gb) * 1000000 + 0.5) / 1000000.0 AS b
        |  FROM ab${t - 1} ab, g$t g
        |)""".stripMargin)
    }
    sb.append("""
      |SELECT s.doc_id, s.score, s.y,
      |  FLOOR(1.0 / (1.0 + exp(-(ab.a * s.score + ab.b))) * 10000 + 0.5)
      |    / 10000.0 AS p_cal
      |FROM sc2 s, ab4 ab
      |ORDER BY s.doc_id""".stripMargin)
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q120_quality_centroid", q120, Some(q120Sql)),
    QueryDef("q121_quality_logistic", q121, Some(q121Sql)),
    QueryDef("q137_curriculum_order", q137, Some(q137Sql)),
    QueryDef("q141_platt_calibration", q141, Some(q141Sql)))
}
