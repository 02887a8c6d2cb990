package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-document repetition signals — the Gopher repetition filters
  * (Rae et al. 2021, "Scaling Language Models: Methods, Analysis &
  * Insights from Training Gopher", Table A1): a document that repeats the
  * same n-gram over and over is boilerplate/spam and gets dropped before
  * pretraining. Two signals per document over word n-grams:
  *
  *   - `dup_frac` — fraction of n-gram OCCURRENCES whose gram occurs
  *     more than once in the document (Gopher's "duplicate n-gram
  *     fraction"),
  *   - `top_frac` — characters covered by the single most frequent
  *     n-gram (count × its non-space characters) over the document's
  *     non-space characters (Gopher's "top n-gram character fraction");
  *     the arg-top gram breaks count ties lexicographically.
  *
  * Shape for 100 TB: the statistic is PER-DOCUMENT, so the right plan
  * moves no data at all — ONE scan, zero exchange, with the per-doc
  * sort+run-fold fused into the native codegen'd
  * [[graft.functions.expr.RepStatsF]] expression (sort the document's
  * own gram array, then one linear fold: a run of length ≥ 2 is
  * duplication, the longest run is the top gram, strict > keeps the
  * first = lexicographically smallest maximal gram — the
  * count-desc/gram-asc tie-break by construction). The round-10 A/B at
  * 1M docs / 55M grams, all zero-spill: explode → two hash-aggregates
  * keyed (doc, gram)/(doc) moved 2.12 GB of shuffle at 73 s wall; the
  * same sort+fold written as higher-order functions ran 37 s (HOFs
  * evaluate INTERPRETED — the per-element lambda walk was the whole
  * cost); the native expression runs ~4 s. At 100 TB the explode form's
  * exchange is corpus-sized; this form is a pure parallel scan.
  * RepetitionSpec pins the expression row-equal to the HOF reference
  * derivation.
  *
  * Documents with fewer than n tokens have no n-gram and are excluded
  * (both engines agree by construction).
  */
object Repetition {

  /** Per-document n-gram repetition stats:
    * `(idCol, n_grams, dup_frac, top_gram, top_frac)` — fractions
    * r4-snapped ([[graft.queries.Parity]] convention).
    */
  def dupNgramStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1, 8], got $n")
    val toks = filter(split(col(textCol), " "), w => w =!= "")
    import org.apache.spark.sql.graftbridge.Bridge
    // tokens projected as an attribute, then the fused stats struct as an
    // attribute (extracting fields from the expression directly would
    // re-evaluate the sort+fold per field)
    docs
      .select(col(idCol),
        length(regexp_replace(col(textCol), " ", "")).as("nc"),
        toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol), col("nc"),
        Bridge.column(graft.functions.expr.RepStatsF(
          Bridge.expression(col("toks")), n)).as("rs"))
      .select(col(idCol),
        col("rs").getField("n_grams").as("n_grams"),
        graft.queries.Parity.r4(
          col("rs").getField("dup_occ").cast("double")
            / col("rs").getField("n_grams")).as("dup_frac"),
        col("rs").getField("top_gram").as("top_gram"),
        graft.queries.Parity.r4(
          col("rs").getField("top_c")
            * length(regexp_replace(col("rs").getField("top_gram"), " ", ""))
            / col("nc").cast("double")).as("top_frac"))
  }

  /** The Gopher-style keep/drop verdict over [[dupNgramStats]]: flag a
    * document when either signal exceeds its threshold (Table A1 uses
    * 0.20 for both at n = 2).
    */
  def repetitiveFlag(stats: DataFrame, dupThreshold: Double = 0.20,
      topThreshold: Double = 0.20): DataFrame =
    stats.withColumn("flag_repetitive",
      col("dup_frac") > dupThreshold || col("top_frac") > topThreshold)

}
