package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** q129: budget-constrained, quality-ranked corpus selection — the
  * curation END GAME composed from three round-8/9 trained components:
  * the in-engine centroid quality classifier (q120) supplies the
  * ranking, the learned BPE vocabulary (q123) supplies the MODEL-VISIBLE
  * token cost of each document, and the uniform per-source budget
  * (q128's mixing discipline) supplies the constraint. Each source's
  * token budget is filled greedily with its best-scoring documents:
  * within a source, rank by (score desc, doc_id) and keep every document
  * whose preceding cumulative BPE token count is still under the source
  * budget. This is what a pretraining run actually does when it says
  * "take the best 30% of each source by classifier score, measured in
  * tokens" — and the WHOLE trajectory (classifier training, BPE
  * training, encoding, ranking, filling) is replayed by the DuckDB
  * oracle, so a drift anywhere in the composition fails the hash.
  *
  * Scale note: the per-source running sum is a window over one source's
  * documents ordered by score — a genuinely sequential prefix sum. At
  * 100 TB the q58 sub-shard trick does not apply (order is by SCORE, not
  * by a shardable key), so the scale form is the classic two-phase
  * prefix sum: range-partition each source by score, compute partial
  * sums per range, broadcast the per-range offsets (≤ partitions rows),
  * then fill locally. The declared query keeps the single window — at
  * 20 sources the partitions are corpus/20 and the driver's sf ceiling
  * never stresses it — and this note records the deployment shape.
  */
object BudgetSelect {

  /** Fraction of the corpus's total BPE tokens granted to the selection,
    * split uniformly across sources (q128's uniform-mix discipline). */
  private val BudgetFrac = 0.3

  private def q129(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scores = Classifier.cachedCentroidScores(s, dir)
      .select(col("doc_id"), col("score"))
    // round 18: the per-doc encode is the shared per-dataset artifact
    // instead of a fresh corpus encode per sweep
    val counts = Tokenizer.cachedEncodeCounts(s, dir)
    // checkpoint: perDoc feeds BOTH the 1-row budget aggregate (a
    // broadcast exchange) and the window (a shuffle exchange) — different
    // exchange types never reuse, so without materialization the whole
    // upstream (features + centroid + BPE train + encode) runs twice
    // (profiled at 1M docs: 79.4 s -> ~64 s)
    val perDoc = docs.select(col("doc_id"), col("source"))
      .join(scores, "doc_id").join(counts, "doc_id")
      .localCheckpoint(true)
    val budget = perDoc.agg(
        sum(col("n_pieces")).as("corpus_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .select(floor(col("corpus_tokens") * lit(BudgetFrac) / col("n_sources"))
        .cast("long").as("budget_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perDoc.crossJoin(broadcast(budget))
      .withColumn("cum_before", coalesce(sum(col("n_pieces")).over(w), lit(0L)))
      .filter(col("cum_before") < col("budget_tokens"))
      .groupBy(col("source"))
      .agg(any_value(col("budget_tokens")).as("budget_tokens"),
        count(lit(1)).as("n_kept"),
        sum(col("n_pieces")).as("tokens_kept"),
        min(col("score")).as("cutoff_score"))
      .orderBy(col("source"))
  }

  private val q129Sql = Classifier.featSql + Classifier.centroidScoreCtes +
    Tokenizer.trainSql(Tokenizer.NMerges).replaceFirst("^WITH ", ", ") +
    s""", enc AS (
      |  SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
      |    AS n_pieces
      |  FROM wt${Tokenizer.NMerges}
      |), counts AS (
      |  SELECT tk.doc_id, CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces
      |  FROM toks tk JOIN enc e ON e.word = tk.word
      |  WHERE tk.word <> '' GROUP BY 1
      |), per AS (
      |  SELECT d.doc_id, d.source, sc.score, ct.n_pieces
      |  FROM documents d
      |  JOIN scores sc ON sc.doc_id = d.doc_id
      |  JOIN counts ct ON ct.doc_id = d.doc_id
      |), bud AS (
      |  SELECT CAST(FLOOR(SUM(n_pieces) * $BudgetFrac
      |    / COUNT(DISTINCT source)) AS BIGINT) AS budget_tokens
      |  FROM per
      |), ranked AS (
      |  SELECT *, COALESCE(SUM(n_pieces) OVER (
      |    PARTITION BY source ORDER BY score DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM per
      |)
      |SELECT r.source, ANY_VALUE(bud.budget_tokens) AS budget_tokens,
      |  COUNT(*) AS n_kept, CAST(SUM(r.n_pieces) AS BIGINT) AS tokens_kept,
      |  MIN(r.score) AS cutoff_score
      |FROM ranked r CROSS JOIN bud
      |WHERE r.cum_before < bud.budget_tokens
      |GROUP BY r.source ORDER BY r.source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q129_budget_fill", q129, Some(q129Sql)))
}
