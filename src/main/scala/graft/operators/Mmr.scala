package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.vecDot

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
  * the classic diversified top-k: greedily pick the candidate maximizing
  * `λ·rel(q, d) − (1−λ)·max_{s∈S} sim(d, s)` so the returned set trades
  * query relevance against redundancy with what is already selected.
  * This is the retrieval-side consumer of the ANN family: any ranked
  * candidate list (brute/IVF/PQ/BM25/hybrid) can feed it; the declared
  * q153 uses exact cosine top-C as the candidate stage.
  *
  * Shape for 100 TB: relevance is the DISTRIBUTED part — one corpus scan
  * with a broadcast 1-row query vector, top-C via orderBy+limit
  * (TakeOrderedAndProject: per-partition heap + driver merge, never a
  * global sort). The greedy loop is inherently sequential in k and runs
  * on C candidates only: a C-row collect and a C×C snapped similarity
  * matrix (C ≤ [[MaxCandidates]] — the bounded-trainer family next to
  * the PQ codebook and the MW state). Pairwise sims are computed IN the
  * engine with the same `vec_dot` expression the relevance pass uses, so
  * the oracle's `list_dot_product` parity covers both stages.
  *
  * Determinism: rel and sim are r4-snapped before any comparison; the
  * greedy argmax orders by (score desc, id asc); step-1 score is λ·rel
  * (max over the empty selected set is 0 by convention on both engines).
  */
object Mmr {

  val MaxCandidates = 128

  /** Pure greedy over snapped inputs; exposed for the spec.
    * @param cands (id, rel) candidate relevance, snapped
    * @param sims  symmetric snapped pairwise sims keyed (idA, idB)
    * @return (sel_rank starting at 1, id, rel, mmr score)
    */
  def greedy(cands: Seq[(Long, Double)], sims: Map[(Long, Long), Double],
      k: Int, lambda: Double): Seq[(Int, Long, Double, Double)] = {
    val byId = cands.sortBy(_._1)
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    val out = Seq.newBuilder[(Int, Long, Double, Double)]
    var rank = 1
    while (rank <= k && selected.size < byId.size) {
      var best: (Long, Double, Double) = null // (id, rel, score)
      byId.foreach { case (id, rel) =>
        if (!selected.contains(id)) {
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map(s => sims.getOrElse((id, s), 0.0)).max
          val score = lambda * rel - (1 - lambda) * maxSim
          // strict >: first (lowest-id) candidate wins score ties
          if (best == null || score > best._3) best = (id, rel, score)
        }
      }
      selected += best._1
      out += ((rank, best._1, best._2, best._3))
      rank += 1
    }
    out.result()
  }

  /** Diversified top-k of `emb` (idCol, vecCol) for the query vector of
    * row `queryId` (excluded from candidates). Returns
    * `(sel_rank, idCol, rel, mmr_score)` with mmr_score r4-snapped. The
    * id column must be integral and is widened to LONG in the output
    * (the driver-side greedy keys on Long; a non-integral id raises a
    * clear error instead of a deep ClassCastException — round-10 review).
    */
  def diversifiedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, nCandidates: Int, k: Int, lambda: Double): DataFrame = {
    emb.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case t => throw new IllegalArgumentException(
        s"diversifiedTopK: id column `$idCol` must be integral, got ${t.simpleString}")
    }
    require(nCandidates >= 1 && nCandidates <= MaxCandidates,
      s"nCandidates must be in [1, $MaxCandidates], got $nCandidates")
    require(k >= 1 && k <= nCandidates,
      s"k must be in [1, nCandidates], got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val s = emb.sparkSession
    import s.implicits._
    graft.plans.GraftFunctions.register(s)
    def nm(c: org.apache.spark.sql.Column) = sqrt(vecDot(c, c))
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_emb"), nm(col(vecCol)).as("q_nm"))
    val cand = emb.filter(col(idCol) =!= queryId)
      .select(col(idCol).cast("long").as(idCol), col(vecCol),
        nm(col(vecCol)).as("nmv"))
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("nmv"),
        graft.queries.Parity.r4(
          vecDot(col(vecCol), col("q_emb")) / (col("nmv") * col("q_nm")))
          .as("rel"))
      .orderBy(col("rel").desc, col(idCol))
      .limit(nCandidates)
      .localCheckpoint(true) // candidates feed BOTH sides of the sim join
    val a = cand.select(col(idCol).as("ia"), col(vecCol).as("ea"),
      col("nmv").as("na"))
    val b = cand.select(col(idCol).as("ib"), col(vecCol).as("eb"),
      col("nmv").as("nb"))
    val sims = a.join(b, col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        graft.queries.Parity.r4(
          vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap // ≤ C² rows, C ≤ MaxCandidates
    val cs = cand.select(col(idCol), col("rel"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq // ≤ C rows
    greedy(cs, sims, k, lambda)
      .map { case (rk, id, rel, sc) =>
        (rk, id, rel, math.floor(sc * 1e4 + 0.5) / 1e4)
      }
      .toDF("sel_rank", idCol, "rel", "mmr_score")
  }
}
