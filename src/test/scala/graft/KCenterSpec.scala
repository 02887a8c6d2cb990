package graft

import graft.operators.KCenter
import org.apache.spark.sql.functions._

/** [[KCenter]] (q130): hand-worked greedy picks, the coverage-radius /
  * next-pick duality, monotone radius in k, and early stop on duplicate
  * collapse.
  */
class KCenterSpec extends SparkSpec {
  import spark.implicits._

  private def pts(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("greedy picks the farthest point each round (hand-worked line)") {
    // points at x = 0, 1, 10, 11; seed = lowest id (x=0); then x=11
    // (d2=121); after {0,11}: mind2(id1@x=1) = min(1,100) = 1 and
    // mind2(id2@x=10) = min(100,1) = 1 — tie at 1.0 breaks on ASCENDING
    // id → id 1
    val v = pts(0L -> Seq(0f), 1L -> Seq(1f), 2L -> Seq(10f), 3L -> Seq(11f))
    val got = KCenter.select(v, "vec_id", "embedding", 3)
      .orderBy(col("rank"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1, 0L, 0.0), (2, 3L, 121.0), (3, 1L, 1.0)))
  }

  test("the (k+1)-th pick's sel_dist2 equals the k-center coverage radius at k") {
    val emb = Tables.embeddings(spark, sf()).filter(col("vec_id") < 200)
    val sel5 = KCenter.select(emb, "vec_id", "embedding", 5)
      .orderBy(col("rank")).collect()
    val radius4 = KCenterSpec.withMinDist(emb, "vec_id", "embedding", 4)
      .agg(max(col("mind2"))).collect()(0).getDouble(0)
    assert(sel5(4).getDouble(2) == radius4,
      s"greedy duality broken: pick5 ${sel5(4).getDouble(2)} vs radius4 $radius4")
  }

  test("coverage radius shrinks monotonically as k grows") {
    val emb = Tables.embeddings(spark, sf()).filter(col("vec_id") < 200)
    def radius(k: Int): Double = KCenterSpec.withMinDist(emb, "vec_id", "embedding", k)
      .agg(max(col("mind2"))).collect()(0).getDouble(0)
    val r2 = radius(2); val r6 = radius(6)
    assert(r6 < r2, s"more centers must not worsen coverage: $r2 -> $r6")
  }

  test("stops early when the point set collapses to fewer than k distinct points") {
    val v = pts(0L -> Seq(1f, 2f), 1L -> Seq(1f, 2f), 2L -> Seq(1f, 2f))
    val got = KCenter.select(v, "vec_id", "embedding", 3).collect()
    assert(got.length == 1 && got(0).getLong(1) == 0L,
      "identical points admit exactly one center")
  }

  test("matches a plain-Scala greedy reference on random point sets") {
    for (seed <- Seq(5, 23)) {
      val rng = new scala.util.Random(seed)
      val points = (0L until 80L).map(i =>
        i -> Array.fill(4)((math.rint(rng.nextGaussian() * 100) / 100.0).toFloat))
      def d2(a: Array[Float], b: Array[Float]): Double = {
        // same r4 snap as the operator, same |x|^2+|c|^2-2xc double math
        val xx = a.map(x => x.toDouble * x.toDouble).sum
        val cc = b.map(x => x.toDouble * x.toDouble).sum
        val xc = a.zip(b).map { case (x, c) => x.toDouble * c.toDouble }.sum
        math.floor((xx + cc - 2.0 * xc) * 1e4 + 0.5) / 1e4
      }
      val byId = points.toMap
      var centers = Vector(0L) // lowest-id seed
      var expected = Vector((1, 0L, 0.0))
      var mind = points.map { case (id, p) => id -> d2(p, byId(0L)) }.toMap
      for (k <- 2 to 6) {
        val (nid, nd) = mind.filter(_._2 > 0).toSeq
          .maxBy { case (id, d) => (d, -id) } // max d, ties -> min id
        expected :+= ((k, nid, nd))
        centers :+= nid
        mind = mind.map { case (id, d) => id -> math.min(d, d2(byId(id), byId(nid))) }
      }
      val got = KCenter.select(
          points.map { case (id, p) => (id, p.toSeq) }.toDF("vec_id", "embedding"),
          "vec_id", "embedding", 6)
        .orderBy(col("rank"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toVector
      assert(got == expected, s"seed $seed diverged from the greedy reference")
    }
  }

  test("rejects out-of-range k and empty input") {
    val v = pts(0L -> Seq(1f))
    intercept[IllegalArgumentException](KCenter.select(v, "vec_id", "embedding", 0))
    intercept[IllegalArgumentException](
      KCenter.select(v.filter(col("vec_id") < 0), "vec_id", "embedding", 2))
  }
}

object KCenterSpec {
  import graft.plans.GraftFunctions
  import graft.plans.GraftFunctions.vecDot
  import graft.queries.Parity
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Every point's r4 squared distance to its nearest center of
    * [[KCenter.select]]`(k)`, as `(id, mind2)` — `max(mind2)` is the
    * k-center coverage radius², the quantity the objective bounds. Same
    * snapping as the selection's own state frame.
    */
  def withMinDist(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = vectors.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val centerIds = KCenter.select(vectors, idCol, vecCol, k)
      .select(col("id")).as[Long].collect().toSeq
    val v = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("emb"))
    val cemb = v.join(broadcast(centerIds.toDF("id")), Seq("id"), "left_semi")
      .select(col("id").as("c_id"), col("emb").as("c_emb"))
    v.crossJoin(broadcast(cemb))
      .select(col("id"),
        Parity.r4(vecDot(col("emb"), col("emb")) +
          vecDot(col("c_emb"), col("c_emb")) -
          lit(2.0) * vecDot(col("emb"), col("c_emb"))).as("d2"))
      .groupBy(col("id")).agg(min(col("d2")).as("mind2"))
  }
}
