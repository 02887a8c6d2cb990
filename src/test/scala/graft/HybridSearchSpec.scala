package graft

import graft.operators.HybridSearch

/** Reciprocal Rank Fusion ([[HybridSearch.rrf]], q116): hand-computed RRF
  * on tiny rankings, per-list cutoff semantics, missing-id handling, and
  * the determinism of equal-score ranks. The sf-data fusion itself is
  * oracle-checked (q116); these pin the operator's contract directly.
  */
class HybridSearchSpec extends SparkSpec {

  private def ranking(rows: (Long, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "score")
  }

  test("fuses two lists with hand-computed RRF scores and rank carry") {
    // list 1 ranks: a=1, b=2, c=3; list 2 ranks: b=1, a=2, d=3
    val l1 = ranking(10L -> 9.0, 11L -> 5.0, 12L -> 1.0)
    val l2 = ranking(11L -> 8.0, 10L -> 7.0, 13L -> 2.0)
    val out = HybridSearch.rrf(Seq(l1, l2), "id", "score", topK = 10, rrfK = 60)
      .collect()
    val byId = out.map(r => r.getAs[Long]("id") ->
      (r.getAs[java.lang.Long]("rank_1"), r.getAs[java.lang.Long]("rank_2"),
        r.getAs[Double]("rrf_score"))).toMap
    def rrf(rs: Int*): Double =
      math.floor(rs.map(r => 1.0 / (60 + r)).sum * 1e6 + 0.5) / 1e6
    assert(byId(10L) == ((1L: java.lang.Long), (2L: java.lang.Long), rrf(1, 2)))
    assert(byId(11L) == ((2L: java.lang.Long), (1L: java.lang.Long), rrf(2, 1)))
    assert(byId(12L) == ((3L: java.lang.Long), (null: java.lang.Long), rrf(3)))
    assert(byId(13L) == ((null: java.lang.Long), (3L: java.lang.Long), rrf(3)))
    // ids in both lists outrank single-list ids; output order is
    // (rrf desc, id): 10 and 11 tie exactly (1/61+1/62 both) → id breaks
    assert(out.map(_.getAs[Long]("id")).take(2).sameElements(Array(10L, 11L)))
  }

  test("perListK cutoff drops credit from ranks below it") {
    val l1 = ranking(1L -> 5.0, 2L -> 4.0, 3L -> 3.0)
    val l2 = ranking(3L -> 9.0, 1L -> 8.0)
    val out = HybridSearch.rrf(Seq(l1, l2), "id", "score",
      topK = 10, perListK = 2, rrfK = 60).collect()
    val ids = out.map(_.getAs[Long]("id")).toSet
    // id 3 missed list 1's top-2 but leads list 2; id 2 only held rank 2
    // in list 1; no id vanishes unless it misses EVERY cutoff
    assert(ids == Set(1L, 2L, 3L))
    val r3 = out.find(_.getAs[Long]("id") == 3L).get
    assert(r3.getAs[java.lang.Long]("rank_1") == null)
    assert(r3.getAs[java.lang.Long]("rank_2") == 1L)
  }

  test("equal scores rank deterministically by id") {
    val l1 = ranking(7L -> 1.0, 5L -> 1.0, 6L -> 1.0)
    val out = HybridSearch.rrf(Seq(l1), "id", "score", topK = 3, rrfK = 60)
      .collect()
    assert(out.map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_1")).toSeq ==
      Seq(5L -> 1L, 6L -> 2L, 7L -> 3L))
  }

  test("rejects empty ranking list and non-positive parameters") {
    val l = ranking(1L -> 1.0)
    intercept[IllegalArgumentException](
      HybridSearch.rrf(Nil, "id", "score", topK = 5))
    intercept[IllegalArgumentException](
      HybridSearch.rrf(Seq(l), "id", "score", topK = 0))
    intercept[IllegalArgumentException](
      HybridSearch.rrf(Seq(l), "id", "score", topK = 5, rrfK = 0))
  }
}
