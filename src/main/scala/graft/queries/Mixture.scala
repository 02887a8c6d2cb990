package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.MixtureReweight

/** q134: trained source-mixture reweighting
  * ([[graft.operators.MixtureReweight]]) — the dynamic counterpart to
  * q74's static mixture. The per-source metric is the TRAINED centroid
  * classifier's quality pass rate (q120's model, reused end-to-end), the
  * baseline is the per-source token share, and the oracle replays the
  * entire composition: featurization, centroid training, scoring,
  * per-source aggregation, and every clipped multiplicative-weights round
  * — so the declared output hash-verifies a full train→score→reweight
  * pipeline, not just the final arithmetic.
  */
object Mixture {

  private val T = 4
  private val Eta = 0.5
  private val Cap = 0.06

  private def q134(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val preds = Classifier.cachedCentroidScores(s, dir)
      .select(col("doc_id"), col("pred"))
    // one corpus pass -> the |S|-row per-source frame (checkpointed: it
    // feeds the totals broadcast AND the main select — the q74/q129
    // exchange-reuse lesson)
    val per = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(preds, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens"),
        Parity.r6(avg(col("pred").cast("double"))).as("m"))
      .localCheckpoint(true)
    val tot = per.agg(sum(col("tokens")).as("ct"))
    val base = per.crossJoin(broadcast(tot))
      .select(col("source"), Parity.r6(col("tokens") / col("ct")).as("w0"),
        col("m"))
    MixtureReweight.reweight(base, "source", "w0", "m", T, Eta, Cap)
      .orderBy(col("iter"), col("source"))
  }

  /** The iteration CTEs are MATERIALIZED: DuckDB inlines a CTE at every
    * reference site, and each round references the previous round's
    * weights from two places (the weighted-mean scalar and the update) —
    * unmaterialized, the whole upstream classifier pipeline re-evaluates
    * ~3^T times (measured: minutes at T=4 vs ~a second materialized).
    */
  private def q134Sql: String = {
    val sb = new StringBuilder(Classifier.featSql + Classifier.centroidScoreCtes)
    sb.append(
      """, src AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents d
        |), per AS MATERIALIZED (
        |  SELECT s.source, CAST(SUM(s.n_tok) AS BIGINT) AS tokens,
        |    FLOOR(AVG(CASE WHEN sc.pred THEN 1.0 ELSE 0.0 END)
        |      * 1000000 + 0.5) / 1000000.0 AS m
        |  FROM src s JOIN scores sc USING (doc_id)
        |  GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(tokens) AS BIGINT) AS ct FROM per
        |), it0 AS MATERIALIZED (
        |  SELECT source, FLOOR(tokens / ct * 1000000 + 0.5) / 1000000.0 AS w, m
        |  FROM per, tot
        |)""".stripMargin)
    for (t <- 1 to T) {
      sb.append(s"""
        |, mbar$t AS (
        |  SELECT SUM(w * m) AS mbar FROM it${t - 1}
        |), clip$t AS MATERIALIZED (
        |  SELECT source, LEAST(w * (1 + $Eta * (m - mbar)), $Cap) AS c, m
        |  FROM it${t - 1}, mbar$t
        |), ctot$t AS (
        |  SELECT SUM(c) AS tot FROM clip$t
        |), it$t AS MATERIALIZED (
        |  SELECT source,
        |    GREATEST(FLOOR(c / tot * 1000000 + 0.5) / 1000000.0, 0.000001) AS w,
        |    m
        |  FROM clip$t, ctot$t
        |)""".stripMargin)
    }
    val arms = (0 to T).map(t =>
      s"SELECT $t AS iter, source, w AS weight FROM it$t")
      .mkString("\n  UNION ALL ")
    sb.append(s"""
      |SELECT iter, source, weight FROM (
      |  $arms)
      |ORDER BY iter, source""".stripMargin)
    sb.toString
  }

  /** q144: temperature-smoothed source mixing — w_s ∝ share_s^α with
    * α = 0.3, the exponent-smoothing knob of multilingual/multi-source
    * pretraining (mBERT/XLM-R style: α < 1 upsamples small sources,
    * α = 1 is proportional, α = 0 uniform). One aggregate over the
    * corpus, pow + normalize on the |S|-row frame; shares are r6-snapped
    * BEFORE the pow so both engines exponentiate identical doubles, and
    * the final weights r6-snap after the normalize (pow's last-ulp
    * wobble across libms is ~10 orders below the snap grid).
    */
  private val Alpha = 0.3

  private def q144(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("tokens"))
      .localCheckpoint(true)
    val tot = per.agg(sum(col("tokens")).as("ct"))
    val shared = per.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        Parity.r6(col("tokens") / col("ct")).as("share"))
      .localCheckpoint(true)
    val ptot = shared.agg(sum(pow(col("share"), lit(Alpha))).as("pt"))
    shared.crossJoin(broadcast(ptot))
      .select(col("source"), col("tokens"), col("share"),
        Parity.r6(pow(col("share"), lit(Alpha)) / col("pt")).as("temp_weight"))
      .orderBy(col("source"))
  }

  private val q144Sql =
    s"""WITH per AS MATERIALIZED (
       |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
       |    AS tokens
       |  FROM documents GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(tokens) AS BIGINT) AS ct FROM per
       |), shared AS MATERIALIZED (
       |  SELECT source, tokens,
       |    FLOOR(tokens / ct * 1000000 + 0.5) / 1000000.0 AS share
       |  FROM per, tot
       |), ptot AS (
       |  SELECT SUM(POWER(share, $Alpha)) AS pt FROM shared
       |)
       |SELECT source, tokens, share,
       |  FLOOR(POWER(share, $Alpha) / pt * 1000000 + 0.5) / 1000000.0
       |    AS temp_weight
       |FROM shared, ptot
       |ORDER BY source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q134_mixture_reweight", q134, Some(q134Sql)),
    QueryDef("q144_mixture_temperature", q144, Some(q144Sql)))
}
