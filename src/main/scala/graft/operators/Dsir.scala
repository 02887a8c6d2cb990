package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextHash

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
  * score every raw document by how much more likely its hashed n-gram
  * features are under a TARGET corpus' feature distribution than under
  * the raw corpus' own, then keep the top of the ranking. This is the
  * standard "select web data that looks like my curated target" step of
  * a pretraining pipeline, and it composes with the quality classifier
  * (q120/q121): DSIR matches a DISTRIBUTION, the classifier scores
  * absolute quality.
  *
  * Model: unigram bag-of-words hashed into `nSlots` buckets
  * ([[TextHash.h60]] md5 hashing — DuckDB-replayable, the q96 parity
  * convention), add-one smoothed per side. Each document's importance
  * log-weight is Σ_tokens [ln p̂_target(slot) − ln p̂_raw(slot)], with
  * each slot's log-ratio r6-snapped BEFORE the per-document sum (the
  * repo's lp-snap convention: the one libm `ln` per slot is snapped at
  * the source, so the later sum only composes snapped constants).
  *
  * Shape for 100 TB: the two feature models are ONE explode →
  * hash-aggregate over the corpus each (map-side combined, `nSlots`-row
  * results), the log-ratio table is `nSlots` rows broadcast back, and
  * scoring is a broadcast equi-join + per-doc sum — no shuffle keyed by
  * anything wider than (doc, slot), no driver state beyond the slot
  * table. Selection on top is a `TakeOrderedAndProject` (rank by
  * snapped weight, ties by id), not a global sort.
  */
object Dsir {

  /** Per-slot smoothed log-ratio table `(slot, lr)` (r6-snapped), from
    * hashed-unigram counts of the target vs the full corpus. Every slot
    * in [0, nSlots) appears (add-one smoothing defines empty slots).
    */
  def logRatios(raw: DataFrame, isTarget: Column, textCol: String,
      nSlots: Int = 16): DataFrame = {
    require(nSlots >= 2 && nSlots <= (1 << 20),
      s"nSlots must be in [2, 2^20], got $nSlots")
    val s = raw.sparkSession
    val slots = raw
      .select(isTarget.as("is_t"), explode(TextHash.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("is_t"), pmod(TextHash.h60(col("tok")), lit(nSlots.toLong)).as("slot"))
    // nSlots-row result materialized once: both the totals aggregate and
    // the slot join below consume it, and without the checkpoint each
    // consumer would re-run the full corpus explode+aggregate
    val counts = slots.groupBy(col("slot"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
      .localCheckpoint(true)
    val all = s.range(0, nSlots).select(col("id").as("slot"))
    // totals are a 1-row aggregate joined back by broadcast; the ln of the
    // smoothed ratio is snapped to the 1e-6 grid per slot (libm parity rule)
    val tot = counts.agg(sum(col("c_raw")).as("t_raw"), sum(col("c_t")).as("t_t"))
    val r6ln = (num: Column, den: Column) =>
      graft.queries.Parity.r6(log((num + 1.0) / (den + nSlots.toDouble)))
    all.join(counts, Seq("slot"), "left")
      .na.fill(0L, Seq("c_raw", "c_t"))
      .crossJoin(broadcast(tot))
      .select(col("slot"),
        (r6ln(col("c_t").cast("double"), col("t_t").cast("double"))
          - r6ln(col("c_raw").cast("double"), col("t_raw").cast("double"))).as("lr"))
  }

  /** Per-document importance log-weights `(idCol, n_toks, log_weight)`.
    * The per-doc sum of grid-multiple `lr`s is re-snapped to the SAME
    * 1e-6 grid (order-dependent summation perturbs by ≪ 0.5e-6, so the
    * snap is exact-stable and both engines hold the bit-identical
    * double — the [[UnigramLm.scoreCounts]] rule; r4 alone leaves a
    * half-grid-boundary coin flip), then r4'd as the output/sort key.
    */
  def importanceWeights(raw: DataFrame, isTarget: Column, idCol: String,
      textCol: String, nSlots: Int = 16): DataFrame = {
    val lr = logRatios(raw, isTarget, textCol, nSlots)
    raw.select(col(idCol), explode(TextHash.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(idCol), pmod(TextHash.h60(col("tok")), lit(nSlots.toLong)).as("slot"))
      .join(broadcast(lr), "slot")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        graft.queries.Parity.r4(graft.queries.Parity.r6(sum(col("lr"))))
          .as("log_weight"))
  }
}
