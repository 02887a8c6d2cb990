package graft

import graft.operators.SemDeDup
import org.apache.spark.sql.functions._

/** SemDeDup's scale form ([[SemDeDupSpec.pairsAuto]], q111): trained-centroid
  * clustering with k grown as n/targetClusterSize. The pair math is shared
  * with the oracle-checked q101 via [[SemDeDup.pairs]]; these tests pin
  * the properties the oracle cannot: planted duplicates are found, the
  * approximation only UNDER-reports (every emitted pair is a true
  * above-threshold pair), and measured recall vs brute force is recorded.
  */
class SemDeDupSpec extends SparkSpec {

  private def vec(seed: Int, scale: Float = 1f): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(16)(r.nextGaussian().toFloat * scale)
  }

  test("literal-argmin assignment == crossJoin+aggregate argmin (round 18)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // adversarial: coincident members and centroids (exact ties resolved
    // by the packed c_id low bits), a zero vector, and clustered noise
    val cents = (0 until 7).map(i => (i.toLong, vec(i))).toDF("c_id", "c_emb")
    val members = ((0 until 300).map { i =>
      val base = vec(i % 7)
      (1000L + i, base.map(x => x + 0.01f * rnd.nextInt(3)))
    } ++ Seq((2000L, vec(3)), (2001L, Array.fill(16)(0f))))
      .toDF("vec_id", "embedding")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lit = m(graft.operators.SemDeDup.assign(members, "vec_id", "embedding", cents))
    val agg = m(graft.operators.SemDeDup.assignAgg(members, "vec_id", "embedding", cents))
    assert(lit == agg, s"diverged on ${lit.keySet.filter(k => lit(k) != agg.getOrElse(k, -1L)).take(5)}")
  }

  test("planted near-duplicates are found with trained centroids") {
    import spark.implicits._
    // three well-separated centers, 30 members each, plus one exact
    // duplicate pair (ids 900/901) inside center 0. Noise scale 2 on
    // norm-40 centers puts distinct same-center pairs at cos ~0.96 —
    // measurably below the 0.9999 threshold (0.1 noise was NOT: all
    // same-center pairs rounded to 0.9999 at 4 decimals)
    val centers = Array(vec(1, 10f), vec(2, 10f), vec(3, 10f))
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      val n = vec(100 + i, 2f)
      (i.toLong, c.zip(n).map { case (a, b) => a + b })
    } ++ Seq(
      (900L, centers(0).map(_ + 0.01f)),
      (901L, centers(0).map(_ + 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = SemDeDupSpec
      .pairsAuto(emb, "vec_id", "embedding", minCos = 0.9999,
        targetClusterSize = 16)
      .collect()
    assert(got.exists(r =>
      r.getAs[Long]("vec_a") == 900L && r.getAs[Long]("vec_b") == 901L),
      s"planted duplicate pair missing from ${got.length} pairs")
    assert(got.length == 1, s"expected only the planted pair, got ${got.length}")
  }

  test("pairsAuto only under-reports: every pair is a true pair; recall measured") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding"))
    val got = SemDeDupSpec
      .pairsAuto(emb, "vec_id", "embedding", minCos = 0.4,
        targetClusterSize = 64)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .localCheckpoint()
    // brute-force truth — affordable at 500 vectors (125k pairs)
    graft.plans.GraftFunctions.register(spark)
    import graft.plans.GraftFunctions.vecDot
    val v = emb.select(col("vec_id").as("id"), col("embedding").as("e"),
      sqrt(vecDot(col("embedding"), col("embedding"))).as("nm"))
    val truth = v.as("a").crossJoin(v.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(vecDot(col("a.e"), col("b.e")) /
          (col("a.nm") * col("b.nm")), 4).as("cos_true"))
      .filter(col("cos_true") >= 0.4)
      .localCheckpoint()

    // soundness: emitted pairs == the truth rows for those ids, same score
    val bad = got.join(truth, Seq("vec_a", "vec_b"), "left")
      .filter(col("cos_true").isNull || col("cos_true") =!= col("cos_sim"))
      .count()
    assert(bad == 0, s"$bad emitted pairs are not true >=0.4 pairs")

    val nTruth = truth.count()
    val nHit = truth.join(got, Seq("vec_a", "vec_b"), "left_semi").count()
    val recall = nHit.toDouble / nTruth
    println(f"[recall] semdedup(target=64) cos>=0.4: $recall%.4f (n=$nTruth)")
    // measured 0.4407 (n=59) on the near-orthogonal sf0.01 corpus with
    // k=8 trained cells — SemDeDup's documented trade: cos>=0.4 pairs in
    // a structure-free random corpus straddle cell boundaries. Floor at
    // 0.35 guards regression without overstating the approximation;
    // DESIGN.md §4 records the number alongside the other recall rows.
    assert(recall >= 0.35, f"semdedup recall $recall%.4f")
  }

  test("distributed k-means trainer separates planted centers; pairs() composes") {
    import spark.implicits._
    val centers = Array(vec(1, 10f), vec(2, 10f), vec(3, 10f))
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      val n = vec(200 + i, 2f)
      (i.toLong, c.zip(n).map { case (a, b) => a + b })
    } ++ Seq(
      (900L, centers(0).map(_ + 0.01f)),
      (901L, centers(0).map(_ + 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    val ds = emb.select(col("vec_id").as("id"), col("embedding"))
      .as[graft.operators.Vec]
    val cents = graft.operators.Ann.kMeansCentroidsDistributed(ds, 3, iters = 5)
    assert(cents.length == 3, s"expected 3 centroids, got ${cents.length}")
    // the three planted prototypes must land in three DISTINCT cells —
    // i.e. the distributed quantizer actually separates the structure
    def nearest(v: Array[Float]): Long = cents.minBy { c =>
      c.embedding.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
    }.id
    assert(centers.map(nearest).distinct.length == 3,
      "planted centers collapsed into fewer than 3 cells")
    // and the shared pair stage composes with distributed centroids
    val centsDf = cents.toSeq.map(v => (v.id, v.embedding)).toDF("c_id", "c_emb")
    val got = SemDeDup.pairs(emb, "vec_id", "embedding", centsDf, minCos = 0.9999)
      .collect()
    assert(got.length == 1 && got.head.getAs[Long]("vec_a") == 900L &&
      got.head.getAs[Long]("vec_b") == 901L,
      s"expected exactly the planted pair, got ${got.mkString(", ")}")
  }

  // deterministic hash of a pair frame for exact-equality comparison
  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("vec_a"),
      r.getAs[Long]("vec_b"), r.getAs[Double]("cos_sim"))).toSet

  test("persisted index: incremental pairs == union pairs with a batch member") {
    import spark.implicits._
    val centers = Array(vec(1, 10f), vec(2, 10f), vec(3, 10f))
    def mk(ids: Range, seedOff: Int) = ids.map { i =>
      val c = centers(i % 3)
      val n = vec(seedOff + i, 2f)
      (i.toLong, c.zip(n).map { case (a, b) => a + b })
    }
    val existing = mk(0 until 60, 300).toDF("vec_id", "embedding")
    val batch = mk(60 until 90, 300).toDF("vec_id", "embedding")
    val union = existing.unionByName(batch)
    val cents = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toSeq.toDF("c_id", "c_emb")
    val root = java.nio.file.Files.createTempDirectory("graft_semdedup_idx").toString
    val path = s"$root/idx"
    val minCos = 0.9

    SemDeDup.buildIndex(existing, "vec_id", "embedding", cents, path)
    assert(SemDeDup.loadAssignments(spark, path).count() == 60)

    // incremental: pairs involving the batch == union pairs filtered to batch members
    val incr = pairSet(SemDeDup.incrementalPairs(
      batch, existing, "vec_id", "embedding", path, minCos))
    val unionPairs = pairSet(SemDeDup.pairs(union, "vec_id", "embedding", cents, minCos))
    val expected = unionPairs.filter(p => p._2 >= 60 || p._3 >= 60)
    assert(incr == expected,
      s"incremental drifted: ${incr.size} vs expected ${expected.size}")
    assert(expected.exists(p => p._2 < 60), "no cross batch-vs-indexed pair exercised")
    assert(expected.exists(p => p._2 >= 60 && p._3 >= 60), "no within-batch pair exercised")
  }

  test("dedup action: keeps the lowest-id representative with its dup_count") {
    import spark.implicits._
    val centers = Array(vec(1, 10f), vec(2, 10f), vec(3, 10f))
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      val n = vec(500 + i, 2f)
      (i.toLong, c.zip(n).map { case (a, b) => a + b })
    } ++ Seq( // a 3-member duplicate chain: 900~901~902
      (900L, centers(0).map(_ + 0.01f)),
      (901L, centers(0).map(_ + 0.01f)),
      (902L, centers(0).map(_ + 0.011f)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = SemDeDup
      .dedup(emb, "vec_id", "embedding",
        SemDeDup.trainedCentroids(emb, "vec_id", "embedding", targetClusterSize = 16),
        minCos = 0.9999, saltAbove = 16)
      .select("vec_id", "dup_count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!got.contains(901L) && !got.contains(902L),
      "non-representative duplicates survived")
    assert(got.get(900L).contains(3L),
      s"representative's dup_count wrong: ${got.get(900L)}")
    assert(got.size == rows.size - 2, "survivor count off")
    assert(got.filter(_._1 != 900L).values.forall(_ == 1L),
      "a singleton claimed duplicates")
  }

  test("trained buildIndex: the persisted index reproduces pairsAuto exactly") {
    import spark.implicits._
    val centers = Array(vec(1, 10f), vec(2, 10f), vec(3, 10f))
    val emb = ((0 until 90).map { i =>
      val c = centers(i % 3)
      val n = vec(700 + i, 2f)
      (i.toLong, c.zip(n).map { case (a, b) => a + b })
    } ++ Seq((900L, centers(0).map(_ + 0.01f)),
      (901L, centers(0).map(_ + 0.01f)))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_semdedup_auto").toString + "/idx"
    SemDeDup.buildIndex(emb, "vec_id", "embedding",
      SemDeDup.trainedCentroids(emb, "vec_id", "embedding", targetClusterSize = 16),
      path)
    // the ids >= 45 re-arrive as a batch: the persisted index pairs them
    // with the rest and with each other under the stored quantizer
    val batch = emb.filter(col("vec_id") >= 45)
    val indexed = pairSet(SemDeDup.incrementalPairs(
      batch, emb, "vec_id", "embedding", path, 0.9))
    // both paths train on the same data with the same deterministic
    // trainer, so the persisted-index route must be EXACTLY the inline one
    val inline = pairSet(SemDeDupSpec.pairsAuto(emb, "vec_id", "embedding", 0.9,
      targetClusterSize = 16)).filter(p => p._2 >= 45 || p._3 >= 45)
    assert(inline.nonEmpty && indexed == inline,
      s"auto-built index drifted: ${indexed.size} vs ${inline.size}")
  }

  test("q112 declared form returns rows with a batch member in every pair") {
    val df = SparkEntry.queries("q112_semdedup_incremental")(spark, sf("sf0.01"))
    val rows = df.collect()
    assert(rows.nonEmpty, "q112 returned no rows at sf0.01")
    assert(rows.forall(r => r.getAs[Long]("vec_a") % 5 == 0 ||
      r.getAs[Long]("vec_b") % 5 == 0), "pair without a batch member")
    assert(rows.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }

  test("q111 declared form returns rows and respects pair ordering") {
    val df = SparkEntry.queries("q111_semdedup_scale")(spark, sf("sf0.01"))
    val rows = df.collect()
    assert(rows.nonEmpty, "q111 returned no rows at sf0.01")
    assert(rows.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }
}

object SemDeDupSpec {
  import org.apache.spark.sql.DataFrame

  /** q111's composition as one call: [[SemDeDup.pairs]] over
    * [[SemDeDup.trainedCentroids]], salting only the clusters the
    * quantizer failed to split below its target size.
    */
  def pairsAuto(
      members: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      targetClusterSize: Int = 1024,
      iters: Int = 5): DataFrame =
    SemDeDup.pairs(members, idCol, vecCol,
      SemDeDup.trainedCentroids(members, idCol, vecCol, targetClusterSize, iters),
      minCos, saltAbove = targetClusterSize)
}
