package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted index + BM25 search-from-disk: tokenize and
  * aggregate the corpus ONCE, then every query reads only its own terms'
  * postings. Layout:
  *
  *   path/postings (word, doc_id, tf, dl, build_id) — one row per
  *     posting, with the posting doc's LENGTH DENORMALIZED onto the row
  *     (one extra long, run-length-friendly) so scoring never joins a
  *     |docs|-row side table: a 3-term query over a 100 TB corpus reads 3
  *     terms' postings and NOTHING else.
  *   path/stats    (n_docs, sum_dl, avgdl, build_id) — 1-row corpus
  *     constants, the index's COMMIT MARKER (always written last).
  *
  * At search time the query-term filter is an `In` predicate the parquet
  * scan receives as a pushed filter. Scoring is identical to the inline
  * BM25 (q108); `TextIndexSpec` pins indexed == inline equality and the
  * pushdown.
  *
  * Consistency model (mirrors Pq's build_id + requireConsistentBuild):
  * every build stamps a fresh `build_id` into the postings rows and
  * writes stats LAST. A rebuild that dies between the two writes leaves
  * postings whose build_id the committed stats does not acknowledge — the
  * search plan carries an in-plan guard (zero extra passes: the check
  * rides the already-scanned term-pruned rows) that fails loudly instead
  * of scoring postings against another build's corpus constants; a
  * rebuild repairs it.
  */
object TextIndex {

  private def tokenize(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))

  /** (word, doc_id, tf, dl) in ONE aggregation pass: tf by (doc, word),
    * then dl as a window sum over the doc's (already aggregated, per-doc
    * bounded) distinct-word rows — no |docs|-row join, no second scan.
    */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String) = {
    val perDoc = tokenize(docs, idCol, textCol)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    perDoc.withColumn("dl",
      sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
  }

  private def statsPath(path: String) = s"$path/stats"

  private def writeStats(
      spark: SparkSession, path: String,
      nDocs: Long, sumDl: Long, buildId: String): Unit = {
    import spark.implicits._
    Seq((nDocs, sumDl, sumDl.toDouble / nDocs, buildId))
      .toDF("n_docs", "sum_dl", "avgdl", "build_id")
      .coalesce(1).write.mode("overwrite").parquet(statsPath(path))
  }

  /** Tokenize + aggregate + write. Overwrite-idempotent. The corpus is
    * scanned exactly once (the postings write); stats derive from the
    * WRITTEN postings, so a nondeterministic input frame cannot produce
    * stats that disagree with the postings.
    */
  def buildTextIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val buildId = java.util.UUID.randomUUID().toString
    postingsOf(docs, idCol, textCol)
      .withColumn("build_id", lit(buildId))
      .write.mode("overwrite").parquet(s"$path/postings")
    val Array(nDocs, sumDl) = spark.read.parquet(s"$path/postings")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("long"), sum(col("dl")).cast("long"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    writeStats(spark, path, nDocs, sumDl, buildId)
  }

  /** BM25 top-k strictly from the persisted index — no tokenization, no
    * corpus access: the term filter reaches the postings scan and the only
    * other input is the 1-row stats broadcast. The in-plan consistency
    * guard (build_id vs committed stats) costs nothing beyond the rows
    * already scanned.
    */
  def bm25TopK(
      spark: SparkSession,
      path: String,
      terms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val stats = spark.read.parquet(statsPath(path))
      .select(col("n_docs"), col("avgdl"), col("build_id").as("c_build"))
    val guarded = spark.read.parquet(s"$path/postings")
      .filter(col("word").isin(terms: _*))
      .crossJoin(broadcast(stats))
      .withColumn("tf", when(col("build_id") === col("c_build"),
        col("tf")).otherwise(raise_error(concat(
          lit("text index at "), lit(path),
          lit(" has postings of another build than its committed stats (a "
            + "build died partway) — rebuild the index")))))
    val df = guarded.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    guarded.join(df, "word")
      .withColumn("term_score", idf * col("tf") * lit(k1 + 1.0) / norm)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
