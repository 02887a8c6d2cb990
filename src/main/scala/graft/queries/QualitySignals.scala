package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash
import graft.operators.{Dsir, Repetition}

/** Round-10 corpus-quality additions, all fully oracle-replayed:
  *
  *  - q149 — within-document repetition signals (Gopher Table A1:
  *    duplicate-2-gram fraction + top-2-gram character fraction) with the
  *    keep/drop verdict ([[graft.operators.Repetition]]).
  *  - q150 — benchmark-contamination RATE: q67 flags "shares ≥1 shingle",
  *    this reports each training document's contaminated-shingle fraction
  *    and a severity triage (the GPT-3/PaLM appendix-style contamination
  *    accounting that decides re-run-vs-drop per benchmark).
  *  - q151 — DSIR importance-resampling selection (Xie et al. 2023,
  *    [[graft.operators.Dsir]]): hashed-unigram log-likelihood ratios
  *    against a target slice (`lang = 'en'` stands in for the curated
  *    target), top-100 by snapped weight via TakeOrderedAndProject.
  */
object QualitySignals {

  /** Signal frames as per-(session, dataset version) trained artifacts
    * (the q120/q147 pattern): each is built and checkpointed ONCE and
    * shared by its declared query and the q154 pipeline (the stats are
    * per-document, so the pipeline's doc_id ≥ 10 population is a filter
    * of the same frame). Session-keyed — the checkpointed frames are
    * bound to the session that built them.
    */
  private def artifact(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    graft.Artifacts.sessionFrame(s"signal_$kind", s, dir)(build.localCheckpoint(true))

  private[queries] def repStats(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "rep")(Repetition.repetitiveFlag(
      Repetition.dupNgramStats(Tables.documents(s, dir), "doc_id", "text", 2)))

  private[queries] def conStats(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "con")(contaminationFrac(Tables.documents(s, dir)))

  private[queries] def dsirWeights(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "dsir")(Dsir.importanceWeights(Tables.documents(s, dir),
      col("lang") === "en", "doc_id", "text", NSlots))

  /** DSIR weights with the target slice defined by the PREDICTED language
    * (q171's in-engine classifier) instead of the metadata column — the
    * untrusted-metadata mode a real crawl needs (VERDICT r14 task 6). The
    * langid scores ride their own on-disk artifact, so
    * this artifact adds one broadcast-sized equi-join over the q151 shape.
    */
  private[queries] def dsirWeightsPred(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir, "dsir_pred") {
      val docs = Tables.documents(s, dir)
        .join(Langid.scoresStore(s, dir).select(col("doc_id"), col("lang_pred")),
          Seq("doc_id"))
      Dsir.importanceWeights(docs, col("lang_pred") === "en",
        "doc_id", "text", NSlots)
    }

  // ---------- q149: repetition signals ----------

  private def q149(s: SparkSession, dir: String): DataFrame =
    repStats(s, dir).orderBy(col("doc_id"))

  private val q149Sql =
    """WITH t AS (
      |  SELECT doc_id, len(replace(text, ' ', '')) AS nc,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, nc, unnest(list_transform(
      |    generate_series(1, len(toks) - 1),
      |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
      |  FROM t WHERE len(toks) >= 2
      |), c AS (
      |  SELECT doc_id, nc, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
      |), s AS (
      |  SELECT doc_id, nc, gram, c,
      |    SUM(c) OVER (PARTITION BY doc_id) AS total,
      |    SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
      |      OVER (PARTITION BY doc_id) AS dup_occ,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rk
      |  FROM c
      |), f AS (
      |  SELECT doc_id, CAST(total AS BIGINT) AS n_grams,
      |    FLOOR(dup_occ / total * 10000 + 0.5) / 10000.0 AS dup_frac,
      |    gram AS top_gram,
      |    FLOOR(c * len(replace(gram, ' ', '')) / CAST(nc AS DOUBLE)
      |      * 10000 + 0.5) / 10000.0 AS top_frac
      |  FROM s WHERE rk = 1
      |)
      |SELECT doc_id, n_grams, dup_frac, top_gram, top_frac,
      |  (dup_frac > 0.2 OR top_frac > 0.2) AS flag_repetitive
      |FROM f
      |ORDER BY doc_id""".stripMargin

  // ---------- q150: contamination rate ----------

  private[queries] val ShingleN = 3

  /** Per-train-doc contaminated-shingle counts vs the doc_id<10 benchmark
    * slice: `(doc_id, n_shingles, n_contaminated, contaminated_frac)` —
    * shared by q150 and the q154 pipeline. */
  private[graft] def contaminationFrac(docs: DataFrame): DataFrame = {
    // token array projected as an attribute below the shingle transform
    // (the q67 lesson: no CSE into lambdas)
    def grams(d: DataFrame) = d
      .select(col("doc_id"), TextHash.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextHash.wordShinglesOf(col("toks"), ShingleN)).as("gram"))
    val bench = grams(docs.filter(col("doc_id") < 10))
      .select(col("gram")).distinct().withColumn("hit", lit(1))
    val frac = col("n_contaminated").cast("double") / col("n_shingles")
    grams(docs.filter(col("doc_id") >= 10))
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        Parity.r4(frac).as("contaminated_frac"))
  }

  private def q150(s: SparkSession, dir: String): DataFrame =
    conStats(s, dir)
      .withColumn("severity",
        when(col("contaminated_frac") >= 0.5, "high")
          .when(col("contaminated_frac") >= 0.1, "medium")
          .when(col("contaminated_frac") > 0.0, "low")
          .otherwise("clean"))
      .orderBy(col("doc_id"))

  private val q150Sql =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(toks) - ${ShingleN - 1}),
      |    i -> array_to_string(toks[i:i+${ShingleN - 1}], ' ')))) AS gram
      |  FROM t
      |), bench AS (
      |  SELECT DISTINCT gram FROM g WHERE doc_id < 10
      |), agg AS (
      |  SELECT c.doc_id, COUNT(*) AS n_shingles,
      |    CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_contaminated
      |  FROM g c LEFT JOIN bench b USING (gram)
      |  WHERE c.doc_id >= 10
      |  GROUP BY 1
      |), f AS (
      |  SELECT doc_id, n_shingles, n_contaminated,
      |    FLOOR(n_contaminated / n_shingles * 10000 + 0.5) / 10000.0
      |      AS contaminated_frac
      |  FROM agg
      |)
      |SELECT doc_id, n_shingles, n_contaminated, contaminated_frac,
      |  CASE WHEN contaminated_frac >= 0.5 THEN 'high'
      |       WHEN contaminated_frac >= 0.1 THEN 'medium'
      |       WHEN contaminated_frac > 0.0 THEN 'low'
      |       ELSE 'clean' END AS severity
      |FROM f
      |ORDER BY doc_id""".stripMargin

  // ---------- q151: DSIR selection ----------

  private val NSlots = 16
  private val TopK = 100

  private def q151(s: SparkSession, dir: String): DataFrame =
    dsirWeights(s, dir)
      .orderBy(col("log_weight").desc, col("doc_id"))
      .limit(TopK)

  private val q151Sql =
    s"""WITH tk AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), sl AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % $NSlots AS slot
      |  FROM tk WHERE tok <> ''
      |), cnt AS (
      |  SELECT slot, COUNT(*) AS c_raw,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      |  FROM sl GROUP BY 1
      |), tot AS (
      |  SELECT SUM(c_raw) AS t_raw, SUM(c_t) AS t_t FROM cnt
      |), slots AS (
      |  SELECT unnest(generate_series(0, ${NSlots - 1})) AS slot
      |), lr AS (
      |  SELECT s.slot,
      |    FLOOR(ln((COALESCE(c.c_t, 0) + 1.0) / (t.t_t + $NSlots.0))
      |        * 1000000 + 0.5) / 1000000.0
      |    - FLOOR(ln((COALESCE(c.c_raw, 0) + 1.0) / (t.t_raw + $NSlots.0))
      |        * 1000000 + 0.5) / 1000000.0 AS lr
      |  FROM slots s LEFT JOIN cnt c ON s.slot = c.slot CROSS JOIN tot t
      |), dw AS (
      |  -- sum re-snapped to its addends' 1e-6 grid before the r4 output
      |  -- snap (bit-identical doubles across engines — the scoreCounts
      |  -- rule; r4 alone is a coin flip at a half-grid boundary)
      |  SELECT sl.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |    FLOOR(FLOOR(SUM(lr.lr) * 1000000 + 0.5) / 1000000.0
      |      * 10000 + 0.5) / 10000.0 AS log_weight
      |  FROM sl JOIN lr ON sl.slot = lr.slot GROUP BY 1
      |)
      |SELECT doc_id, n_toks, log_weight
      |FROM dw
      |ORDER BY log_weight DESC, doc_id LIMIT $TopK""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q149_repetition_signals", q149, Some(q149Sql)),
    QueryDef("q150_contamination_rate", q150, Some(q150Sql)),
    QueryDef("q151_dsir_select", q151, Some(q151Sql)))
}
