package graft

import graft.operators.KMeans

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, Seq[Float])*) = rows.toDF("id", "emb")

  test("two separated blobs converge to their exact snapped means") {
    val blobs = df(
      1L -> Seq(0f, 0f), 2L -> Seq(10f, 10f), // seeds, one per blob
      3L -> Seq(0f, 1f), 4L -> Seq(1f, 0f),
      5L -> Seq(10f, 11f), 6L -> Seq(11f, 10f))
    val cents = KMeans.train(blobs, "id", "emb", k = 2, iters = 2)
    val m = cents.toMap
    // r4-snapped means: 1/3 -> 0.3333 (floor(3333.8.../1)...), 31/3 -> 10.3333
    assert(m(0L).map(x => math.rint(x * 1e4) / 1e4) == Seq(0.3333, 0.3333))
    assert(m(1L).map(x => math.rint(x * 1e4) / 1e4) == Seq(10.3333, 10.3333))
    val asg = KMeans.assign(blobs, "id", "emb", cents)
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    assert(Seq(1L, 3L, 4L).forall(asg(_) == 0L))
    assert(Seq(2L, 5L, 6L).forall(asg(_) == 1L))
  }

  test("an empty cluster keeps its previous centroid") {
    // seeds are ids 1,2,3; ids 1 and 2 are the SAME point, so in round 1
    // (ties -> lowest label) cluster 1 has no members and must retain its
    // seed embedding verbatim. (In round 2 centroid 0 has MOVED to the
    // cluster mean, so the kept duplicate seed reclaims the (0,0) points —
    // which is exactly the Lloyd semantics the oracle replays.)
    val pts = df(
      1L -> Seq(0f, 0f), 2L -> Seq(0f, 0f), 3L -> Seq(5f, 5f),
      4L -> Seq(0.5f, 0f), 5L -> Seq(5f, 5.5f))
    val cents = KMeans.train(pts, "id", "emb", k = 3, iters = 1)
    val m = cents.toMap
    assert(m(1L) == Seq(0.0, 0.0), "empty cluster must keep its seed")
    assert(m(0L) == Seq(0.1667, 0.0)) // snapped mean of (0,0),(0,0),(0.5,0)
    assert(m(2L) == Seq(5.0, 5.25)) // mean of (5,5),(5,5.5)
    val asg = KMeans.assign(pts, "id", "emb", cents)
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    // the duplicate seed reclaims the origin points from the moved mean
    assert(asg(1L) == 1L && asg(2L) == 1L)
    assert(asg(4L) == 0L)
    assert(asg(3L) == 2L && asg(5L) == 2L)
  }

  test("iters=0 assigns against the raw seeds") {
    val pts = df(1L -> Seq(0f), 2L -> Seq(4f), 3L -> Seq(1f), 4L -> Seq(3f))
    val asg = KMeans.fit(pts, "id", "emb", k = 2, iters = 0)
      .select("id", "cluster", "dist2").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(asg(3L) == ((0L, 1.0))) // |1-0|^2
    assert(asg(4L) == ((1L, 1.0))) // |3-4|^2
    assert(asg(1L) == ((0L, 0.0)) && asg(2L) == ((1L, 0.0)))
  }

  test("assignment is a HashAggregate argmin, one exchanged row per point") {
    val emb = Tables.embeddings(spark, sf())
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    val plan = KMeans.assign(emb, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan)
    assert("HashAggregate".r.findAllIn(plan).nonEmpty, plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("label domain is guarded") {
    val pts = df(1L -> Seq(0f))
    intercept[IllegalArgumentException] {
      KMeans.assign(pts, "id", "emb", Seq((KMeans.MaxK.toLong, Seq(0.0))))
    }
    intercept[IllegalArgumentException] {
      KMeans.train(pts, "id", "emb", k = 0, iters = 1)
    }
  }
}
