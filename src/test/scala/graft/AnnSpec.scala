package graft

import graft.operators.{Ann, Vec}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id").as("id"), col("embedding"))
    .as[Vec].cache()

  private lazy val dim = corpus.head().embedding.length

  test("brute force: self is its own nearest neighbor with cos 1.0") {
    val queries = corpus.toDF().filter(col("id") === 1)
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    val top = Ann.bruteForceTopK(corpus.toDF(), queries, 1).collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("id") == 1L)
    assert(math.abs(top(0).getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("lsh keys: one key per (vector, table); deterministic under a seed") {
    val keys = Ann.lshKeys(corpus, dim, nbits = 6, tables = 4, seed = 42L)
    assert(keys.count() == corpus.count() * 4)
    val a = keys.orderBy("id", "table").collect().toSeq
    val b = Ann.lshKeys(corpus, dim, 6, 4, 42L).orderBy("id", "table").collect().toSeq
    assert(a == b)
    // buckets within range
    assert(keys.agg(max("bucket")).head().getLong(0) < (1L << 6))
  }

  test("lsh keys: ragged dimensions fail loudly instead of mis-bucketing") {
    val ragged = Seq(
      Vec(1L, Array(1f, 2f, 3f)),
      Vec(2L, Array(1f, 2f))).toDS()
    val ex = intercept[Exception] {
      Ann.lshKeys(ragged, dim = 3, nbits = 4, tables = 2, seed = 1L).collect()
    }
    assert(ex.getMessage.contains("ragged embedding dimensions") ||
      Option(ex.getCause).exists(_.getMessage.contains("ragged embedding dimensions")))
  }

  test("kmeans centroids: deterministic, bounded, right count") {
    val a = Ann.ivfCentroidsKMeans(corpus, nCells = 8)
    val b = Ann.ivfCentroidsKMeans(corpus, nCells = 8)
    assert(a.length == 8 && b.length == 8)
    assert(a.map(_.embedding.toSeq).toSeq == b.map(_.embedding.toSeq).toSeq)
    assert(a.forall(_.embedding.length == dim))
  }

  test("ivf topk recall vs brute force") {
    val queryIds = Seq(1L, 2L, 3L, 4L, 5L)
    val queries = corpus.toDF().filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    val exact = Ann.bruteForceTopK(
        corpus.toDF().filter(!col("id").isin(queryIds: _*)), queries, 10)
      .select("q_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.ivfTopK(spark, corpus, queryIds, k = 10, nCells = 16, nprobe = 4)
      .select("q_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = queryIds.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    // nprobe/nCells = 1/4 of the corpus scanned; require better than the
    // random-candidate baseline of ~0.25
    assert(meanRecall > 0.3, s"mean recall $meanRecall (per-query: $recalls)")
  }

  test("filtered ivf hard negatives: only different-label results, useful recall") {
    val labels = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("label"))
    val labMap = labels.as[(Long, Int)].collect().toMap
    val queryIds = Seq(1L, 2L, 3L, 4L, 5L)
    val queries = corpus.toDF().filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    // exact different-label top-10 per anchor = brute force over the
    // anchor's complement-label corpus
    val exact = queryIds.map { q =>
      val others = corpus.toDF().join(labels, "id")
        .filter(col("label") =!= labMap(q) && col("id") =!= q)
      q -> Ann.bruteForceTopK(others.select(col("id"), col("embedding")),
          queries.filter(col("q_id") === q), 10)
        .select("id").as[Long].collect().toSet
    }.toMap
    val approx = Ann.ivfHardNegatives(spark, corpus, labels, queryIds,
        k = 10, nCells = 16, nprobe = 8)
      .select("q_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // contract 1: every returned negative has a different label
    approx.foreach { case (q, ids) =>
      ids.foreach(id => assert(labMap(id) != labMap(q),
        s"same-label vector $id returned for anchor $q"))
    }
    // contract 2: recall beats the scanned-fraction baseline (nprobe 8/16
    // = half the corpus; over-fetched per the filtered-search contract)
    val recalls = queryIds.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble /
        exact(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall > 0.5, s"mean recall $meanRecall (per-query: $recalls)")
  }

  test("lsh topk beats random-candidate recall vs brute force") {
    val queryIds = Seq(1L, 2L, 3L, 4L, 5L)
    val queries = corpus.toDF().filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    val exact = Ann.bruteForceTopK(
        corpus.toDF().filter(!col("id").isin(queryIds: _*)), queries, 10)
      .select("q_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.lshTopK(spark, corpus, queryIds, k = 10, nbits = 6, tables = 8)
      .select("q_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = queryIds.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    // 500 vectors, 64 buckets x 8 tables: random candidate sets of the same
    // size would recall ~their fraction of the corpus (<0.35); require the
    // LSH structure to do clearly better on the clustered embeddings
    assert(meanRecall > 0.35, s"mean recall $meanRecall (per-query: $recalls)")
  }

  test("ann operators leave no cached RDDs behind (round-1 leak)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Ann.lshTopK(spark, corpus, Seq(1L, 2L), k = 5).collect()
    Ann.ivfTopK(spark, corpus, Seq(1L, 2L), k = 5).collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"operator leaked cached RDDs: ${after -- before}")
  }
}
