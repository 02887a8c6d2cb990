package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.plans.GraftFunctions.vecDot
import graft.queries.Parity

/** Greedy k-center selection over an embedding column (Gonzalez 1985 —
  * the classic farthest-point 2-approximation of the k-center objective):
  * the CORESET / diversity-sampling primitive of training-data curation.
  * Where [[SemDeDup]] removes what is redundant, k-center keeps what is
  * MAXIMALLY SPREAD — the k representatives minimizing (within 2×) the
  * worst-case distance from any corpus point to its nearest
  * representative. Standard uses: seed centroids for quantizers, pick
  * annotation batches, budget a diverse eval slice.
  *
  * Shape: the bounded-trainer pattern (shared with k-means, the logistic
  * classifier, and BPE training). One distributed state frame
  * `(id, emb, mind2)` — each point's r4-snapped squared distance to the
  * nearest chosen center — updated per iteration with ONE literal-center
  * `least(...)` map (the new center's embedding is a 1-row collect) and
  * truncated with `localCheckpoint` per the repo's iterative-plan rule —
  * BATCHED: `least` composition is exact (min(min(a,b),c) = the
  * sequential update on the same r4-snapped distances), so the state is
  * checkpointed only every [[CheckpointEvery]] rounds, with the pending
  * rounds carried as a chain of narrow literal-center maps over the last
  * checkpoint. At k=256 over 1M x 64-dim vectors that cuts the
  * checkpoint WRITE volume 8x (the state row carries the 64-float
  * embedding, so every eager checkpoint was ~270 MB per round) at the
  * cost of re-applying <= 7 chained maps per argmax — measured in
  * BASELINE.md (round 10), trajectory and q130 hash unchanged.
  * Selecting the next center is an `orderBy(mind2 desc, id).limit(1)` —
  * a TakeOrderedAndProject, never a full sort. Total cost: k scans of
  * the corpus, zero shuffles beyond the argmax reductions, state one
  * double per point — at 100 TB the binding cost is k corpus scans, the
  * same family as k iterations of Lloyd's.
  *
  * Determinism (oracle-replayable, q130): the seed is the LOWEST id (an
  * arbitrary-seed start is within Gonzalez's guarantee), distances are
  * computed as |x|² + |c|² − 2·x·c on doubles in element order (both
  * engines left-fold the same 64 elements), r4-floored BEFORE the
  * min/argmax so both engines compare identical snapped values, and
  * argmax ties break on ascending id.
  */
object KCenter {

  /** The k selected centers: `(rank, id, sel_dist2)` — `sel_dist2` is the
    * point's min squared distance to the previously chosen centers at the
    * moment it was selected (the greedy max-min value; 0.0 for the seed).
    * `rank` 1..k in selection order. The k-center coverage radius after
    * all k picks is `max(mind2)` over the final state frame.
    */
  def select(vectors: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    GraftFunctions.register(spark)
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    import spark.implicits._
    // emb stays array<float> (the native vec_dot's input type; it
    // accumulates in double, matching the oracle's list_dot_product over
    // DOUBLE[]-cast floats — the q101 parity pattern)
    val v = vectors
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("emb"))
      .localCheckpoint(true)

    def dist2To(c: Seq[Float]) = Parity.r4(
      vecDot(col("emb"), col("emb")) +
        lit(c.map(x => x.toDouble * x.toDouble).sum) -
        lit(2.0) * vecDot(col("emb"), typedLit(c)))

    val seedRow = v.orderBy(col("id")).limit(1)
      .select(col("id"), col("emb")).collect()
    require(seedRow.nonEmpty, "k-center on an empty frame")
    val seedId = seedRow(0).getLong(0)
    val seedEmb = seedRow(0).getSeq[Float](1)
    val picked = Seq.newBuilder[(Int, Long, Double)]
    picked += ((1, seedId, 0.0))
    var state = v.withColumn("mind2", dist2To(seedEmb)).localCheckpoint(true)
    var have = 1
    var pending = 0 // least-maps chained since the last checkpoint
    while (have < k) {
      val top = state.filter(col("mind2") > 0)
        .orderBy(col("mind2").desc, col("id")).limit(1)
        .select(col("id"), col("emb"), col("mind2")).collect()
      if (top.isEmpty) have = k // fewer distinct points than k: stop
      else {
        val (cid, cemb, cd) =
          (top(0).getLong(0), top(0).getSeq[Float](1), top(0).getDouble(2))
        have += 1
        picked += ((have, cid, cd))
        if (have < k) {
          state = state
            .withColumn("mind2", least(col("mind2"), dist2To(cemb)))
          pending += 1
          if (pending >= CheckpointEvery) {
            state = state.localCheckpoint(true)
            pending = 0
          }
        }
      }
    }
    picked.result().toDF("rank", "id", "sel_dist2")
  }

  /** Rounds between state checkpoints: trades 8x less checkpoint write
    * volume for re-applying <= 7 narrow literal-center maps per argmax
    * scan. Exactness: unconditional — `least` composes to the identical
    * sequential min over identically r4-snapped inputs. */
  val CheckpointEvery = 8
}
