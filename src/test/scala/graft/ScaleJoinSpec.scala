package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** Scale-pattern joins: salting for skew, bucketing for shuffle-free
  * co-located joins (SURVEY §7.7 posture checks, exercised at test scale).
  */
class ScaleJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the plain join's rows under heavy skew") {
    // 90% of left rows share one hot key
    val left = spark.range(10000)
      .select(when($"id" % 10 === 0, $"id" % 7).otherwise(lit(999L)).as("k"),
        $"id".as("payload"))
    val right = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("rv"))
    val plain = left.join(right, "k")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "rv").except(plain.select("k", "payload", "rv")).isEmpty)
    assert(plain.select("k", "payload", "rv").except(salted.select("k", "payload", "rv")).isEmpty)
  }

  test("salted as-of join equals the unsalted join under a hot key") {
    // 90% of left rows share one hot key; right holds 20 history rows/key
    val left = spark.range(5000)
      .select(when($"id" % 10 === 0, $"id" % 7).otherwise(lit(999L)).as("k"),
        ($"id" * 13 % 1000).as("t"), $"id".as("payload"))
    val right = spark.range(50 * 20)
      .select(($"id" % 50).as("rk"), expr("(id DIV 50) * 47 % 1000").as("rt"),
        ($"id" * 3).as("rv"))
    // kill broadcast so BOTH forms run the shuffle-merge exec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((jt, dir, tol) <- Seq(("inner", "backward", None),
          ("left", "forward", Some(100L)))) {
        val plain = graft.plans.AsOf.join(left, right, Seq("k"), Seq("rk"),
          "t", "rt", tieBreak = Seq("rv"), joinType = jt, direction = dir,
          tolerance = tol)
        val salted = ScaleJoinSpec.joinSalted(left, right, Seq("k"), Seq("rk"),
          "t", "rt", salts = 8, tieBreak = Seq("rv"), joinType = jt,
          direction = dir, tolerance = tol)
        assert(salted.columns.toSeq == plain.columns.toSeq)
        assert(salted.count() == plain.count(), s"$jt/$dir row count")
        assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty,
          s"$jt/$dir rows differ")
        val plan = salted.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(plan.contains("AsOfJoin"), plan)
        assert(!plan.contains("AsOfJoinBroadcast"), plan)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed tables join without any shuffle exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    info(s"warehouse: $wh")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_custs")
    Tables.orders(spark, sf())
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("bkt_orders")
    Tables.customer(spark, sf())
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("bkt_custs")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_orders")
        .join(spark.table("bkt_custs"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // co-located: no shuffle at all
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == Tables.orders(spark, sf()).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_custs")
    }
  }
}

object ScaleJoinSpec {
  import org.apache.spark.sql.DataFrame

  /** The as-of join with each key spread over `salts` partitions: the left
    * gets an arbitrary per-row salt, the right history is REPLICATED once
    * per salt, and the salt joins as an extra key. Every (key, salt) group
    * sees the key's complete right history, so for every direction,
    * tolerance and join type [[graft.plans.AsOf.join]] must return exactly
    * the unsalted rows: a second key column and a hot key change nothing.
    */
  def joinSalted(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      salts: Int,
      tieBreak: Seq[String] = Nil,
      joinType: String = "inner",
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    (left.columns ++ right.columns).foreach(c => require(
      c != "__salt_l" && c != "__salt_r",
      s"column '$c' collides with joinSalted's internal salt column"))
    val saltedLeft = left.withColumn("__salt_l",
      pmod(monotonically_increasing_id(), lit(salts.toLong)).cast("int"))
    val replicatedRight = right.withColumn("__salt_r",
      explode(sequence(lit(0), lit(salts - 1))))
    graft.plans.AsOf.join(saltedLeft, replicatedRight,
      leftKeys :+ "__salt_l", rightKeys :+ "__salt_r",
      leftTime, rightTime, tieBreak, joinType, direction, tolerance)
      .drop("__salt_l", "__salt_r")
  }
}
