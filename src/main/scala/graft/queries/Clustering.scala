package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHash
import graft.operators.KMeans

/** Declared queries for the oracle-replayable distributed k-means trainer
  * ([[graft.operators.KMeans]]) and the cluster-balanced sampler built on
  * it — the topic-balancing stage of a curation pipeline (cluster the
  * corpus, then cap each cluster's contribution so no one mode dominates
  * the training mix; cf. the cluster-balanced selection in DeepMind's
  * web-corpus pipelines and SemDeDup's cluster framing).
  *
  * q132 verifies TRAINING, not just assignment: the oracle unrolls every
  * Lloyd round as CTEs — assignment argmin over r4-snapped squared L2
  * (ties to the lowest label), per-dimension r4-snapped means, empty
  * clusters keeping their previous centroid via anti-join — and the
  * declared output is the FINAL assignment, which differs if any round
  * anywhere diverged. q133 composes the trained clustering with the
  * repo's deterministic-hash sampling convention (q64/q69/q70): per
  * cluster, the quota is filled in md5-hash order, so the "random" sample
  * is engine-independent.
  */
object Clustering {

  private val K = 5
  private val Iters = 3
  private val Dim = 64
  private val Quota = 40

  /** Trained centroids once per dataset version: q132/q133/q139 all
    * consume the same deterministic training run (train once, assign
    * everywhere — the feature-store argument for cluster structure). */
  private def trainedCents(s: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    graft.Artifacts.value("kmeans_cents", s, dir)(
      KMeans.train(Tables.embeddings(s, dir), "vec_id", "embedding", K, Iters))

  private def q132(s: SparkSession, dir: String): DataFrame =
    KMeans.assign(Tables.embeddings(s, dir), "vec_id", "embedding",
        trainedCents(s, dir))
      .select(col("id").as("vec_id"), col("cluster"), col("dist2"))
      .orderBy(col("vec_id"))

  /** One assignment round: argmin over `cents` of the r4-snapped
    * |v|² + |c|² − 2·v·c, ties to the lowest cluster label.
    */
  private def asgSql(asg: String, cents: String): String =
    s""", ${asg}_d AS (
       |  SELECT v.id, c.c_id,
       |    FLOOR((list_dot_product(v.emb, v.emb)
       |      + list_dot_product(c.c_emb, c.c_emb)
       |      - 2 * list_dot_product(v.emb, c.c_emb)) * 10000 + 0.5)
       |      / 10000.0 AS dist2
       |  FROM v CROSS JOIN $cents c
       |), $asg AS (
       |  SELECT id, c_id, dist2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
       |      ORDER BY dist2, c_id) AS rn FROM ${asg}_d)
       |  WHERE rn = 1
       |)""".stripMargin

  /** One recompute round: per-(cluster, dim) r4-snapped means re-assembled
    * into ordered lists; clusters with no members keep `prev`'s centroid.
    */
  private def meanSql(i: Int, asg: String, prev: String): String =
    s""", m$i AS (
       |  SELECT a.c_id, gs.i AS dim,
       |    FLOOR(AVG(v.emb[gs.i]) * 10000 + 0.5) / 10000.0 AS val
       |  FROM $asg a JOIN v USING (id)
       |  CROSS JOIN generate_series(1, $Dim) gs(i)
       |  GROUP BY a.c_id, gs.i
       |), cents$i AS (
       |  SELECT c_id, list(val ORDER BY dim) AS c_emb FROM m$i GROUP BY c_id
       |  UNION ALL
       |  SELECT c_id, c_emb FROM $prev
       |  WHERE c_id NOT IN (SELECT c_id FROM m$i)
       |)""".stripMargin

  /** The full unrolled trajectory ending in the CTE `asgF` (assignment
    * against the final trained centroids), shared by q132 and q133.
    */
  private def trainedAsgSql: String = {
    val sb = new StringBuilder(
      s"""WITH v AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings
         |), cents0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT) AS c_id,
         |    emb AS c_emb
         |  FROM (SELECT * FROM v ORDER BY id LIMIT $K)
         |)""".stripMargin)
    for (i <- 1 to Iters) {
      sb.append(asgSql(s"asg$i", s"cents${i - 1}"))
      sb.append(meanSql(i, s"asg$i", s"cents${i - 1}"))
    }
    sb.append(asgSql("asgF", s"cents$Iters"))
    sb.toString
  }

  private def q132Sql: String =
    trainedAsgSql +
      "\nSELECT id AS vec_id, c_id AS cluster, dist2 FROM asgF ORDER BY vec_id"

  /** Cluster-balanced sample: per trained cluster, up to [[Quota]] members
    * in deterministic md5-hash order. Emits (cluster, pick, vec_id) so the
    * hash additionally pins WHICH members won and in what order.
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val h = TextHash.h60(concat(lit("bal:"), col("id").cast("string")))
    KMeans.assign(emb, "vec_id", "embedding", trainedCents(s, dir))
      .select(col("id"), col("cluster"), h.as("hkey"))
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("hkey"), col("id"))))
      .filter(col("pick") <= Quota)
      .select(col("cluster"), col("pick"), col("id").as("vec_id"))
      .orderBy(col("cluster"), col("pick"))
  }

  private def q133Sql: String =
    trainedAsgSql +
      s"""
         |SELECT cluster, pick, vec_id FROM (
         |  SELECT c_id AS cluster,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY c_id
         |      ORDER BY ('0x' || substr(md5('bal:' || id::VARCHAR), 1, 15))::BIGINT,
         |        id) AS INT) AS pick,
         |    id AS vec_id
         |  FROM asgF)
         |WHERE pick <= $Quota
         |ORDER BY cluster, pick""".stripMargin

  /** q139: cluster-quality card — per trained cluster: size, majority
    * label, and purity (majority share), the standard external clustering
    * evaluation when labels exist. Closes the loop the kmeans_400k
    * rehearsal measures at scale (planted-cluster purity 0.94 at 400k
    * vectors); at sf the labels are the fixture's 0..9, so purity here
    * reads as "how label-aligned did Lloyd's get from id seeds", a
    * data-card row, not a benchmark.
    */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val asg = KMeans.assign(emb, "vec_id", "embedding", trainedCents(s, dir))
    val cnt = asg.select(col("id"), col("cluster"))
      .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("cluster")).agg(sum(col("n")).as("size"))
    cnt
      .withColumn("rn", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .join(tot, "cluster")
      .select(col("cluster"), col("size"), col("label").as("top_label"),
        col("n").as("top_n"), Parity.r4(col("n") / col("size")).as("purity"))
      .orderBy(col("cluster"))
  }

  private def q139Sql: String =
    trainedAsgSql +
      """, clab AS (
        |  SELECT a.c_id AS cluster, e.label
        |  FROM asgF a JOIN embeddings e ON e.vec_id = a.id
        |), ccnt AS (
        |  SELECT cluster, label, COUNT(*) AS n FROM clab GROUP BY 1, 2
        |), ctot AS (
        |  SELECT cluster, CAST(SUM(n) AS BIGINT) AS size FROM ccnt GROUP BY 1
        |)
        |SELECT c.cluster, t.size, c.label AS top_label,
        |  CAST(c.n AS BIGINT) AS top_n,
        |  FLOOR(c.n / t.size * 10000 + 0.5) / 10000.0 AS purity
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        |        ORDER BY n DESC, label) AS rn FROM ccnt) c
        |JOIN ctot t ON t.cluster = c.cluster
        |WHERE c.rn = 1
        |ORDER BY c.cluster""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q132_kmeans_train", q132, Some(q132Sql)),
    QueryDef("q133_cluster_balanced_sample", q133, Some(q133Sql)),
    QueryDef("q139_cluster_quality", q139, Some(q139Sql)))
}
