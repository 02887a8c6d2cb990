package graft

import graft.operators.{Pq, Vec}
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id").as("id"), col("embedding"))
    .as[Vec].cache()

  private lazy val model = Pq.train(corpus, m = 8, k = 16, iters = 8)

  test("training is deterministic; codes are within [0, k) and m long") {
    val a = Pq.train(corpus, m = 8, k = 16, iters = 8)
    assert(model.codebooks.flatten.flatten.toSeq == a.codebooks.flatten.flatten.toSeq)
    assert(model.subDim * model.m == corpus.head().embedding.length)
    val codes = Pq.encode(corpus, model).collect()
    assert(codes.length == corpus.count())
    codes.foreach { c =>
      assert(c.code.length == 8)
      assert(c.code.forall(x => x >= 0 && x < 16), c.code.mkString(","))
    }
  }

  test("adc self-query ranks the query's own code distance at zero-ish top") {
    val q = corpus.filter(_.id == 7L).head().embedding
    val codes = Pq.encode(corpus, model)
    val top = PqSpec.adcTopK(codes, model, q, kNN = 5)
      .select("id").as[Long].collect().toSeq
    // the query vector's own quantization cell must be among the closest
    assert(top.contains(7L), s"top-5 $top does not contain the query itself")
  }

  test("adcTopKMany single pass equals per-query adcTopK") {
    val all = corpus.collect()
    val qs = Seq(3L, 9L).map(id => (id, all.find(_.id == id).get.embedding))
    val codes = Pq.encode(corpus, model).cache()
    val many = Pq.adcTopKMany(codes, model, qs, kNN = 7)
      .orderBy("q_id", "dist2", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val single = qs.flatMap { case (qid, q) =>
      PqSpec.adcTopK(codes, model, q, kNN = 7)
        .collect().map(r => (qid, r.getLong(0))).toSeq
    }
    assert(many == single)
    codes.unpersist()
  }

  test("ivf-pq: deterministic training, valid codes, recall beats PQ-alone floor") {
    import graft.operators.{IvfPqCode, Pq}
    val ivfpq = Pq.trainIvfPq(corpus, nCells = 16, m = 8, k = 16)
    val again = Pq.trainIvfPq(corpus, nCells = 16, m = 8, k = 16)
    assert(ivfpq.centroids.flatten.toSeq == again.centroids.flatten.toSeq)
    assert(ivfpq.pq.codebooks.flatten.flatten.toSeq ==
      again.pq.codebooks.flatten.flatten.toSeq)
    val all = corpus.collect()
    val queryIds = Seq(1L, 2L, 3L, 4L, 5L)
    val codes = Pq.encodeIvfPq(
      corpus.filter(v => !queryIds.contains(v.id)), ivfpq).cache()
    codes.collect().foreach { c: IvfPqCode =>
      assert(c.cell >= 0 && c.cell < 16)
      assert(c.code.length == 8 && c.code.forall(x => x >= 0 && x < 16))
    }
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i).toDouble - b(i); d += t * t; i += 1 }
      d
    }
    val recalls = queryIds.map { qid =>
      val q = all.find(_.id == qid).get.embedding
      val exact = all.filter(v => !queryIds.contains(v.id))
        .sortBy(v => (l2(q, v.embedding), v.id)).take(10).map(_.id).toSet
      val approx = PqSpec.ivfPqTopK(codes, ivfpq, q, nprobe = 6, kNN = 10)
        .select("id").as[Long].collect().toSet
      approx.intersect(exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    // probing 6/16 cells of a PQ'd corpus: random baseline ~0.02
    assert(mean > 0.15, s"mean IVF-PQ recall $mean (per-query: $recalls)")
    codes.unpersist()
  }

  test("ivfPqTopKMany single pass equals per-query ivfPqTopK") {
    import graft.operators.Pq
    val ivfpq = Pq.trainIvfPq(corpus, nCells = 16, m = 8, k = 16)
    val all = corpus.collect()
    val qs = Seq(3L, 9L).map(id => (id, all.find(_.id == id).get.embedding))
    val codes = Pq.encodeIvfPq(corpus, ivfpq).cache()
    val many = Pq.ivfPqTopKMany(codes, ivfpq, qs, nprobe = 6, kNN = 7)
      .orderBy("q_id", "dist2", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val single = qs.flatMap { case (qid, q) =>
      PqSpec.ivfPqTopK(codes, ivfpq, q, nprobe = 6, kNN = 7)
        .collect().map(r => (qid, r.getLong(0))).toSeq
    }
    assert(many == single)
    codes.unpersist()
  }

  test("persisted PQ index: model round-trips parquet; search-from-disk == inline") {
    val path = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    // the few-KB model must round-trip parquet bit-exactly: the distances
    // below are compared exactly, so any codebook drift would show
    val built = Pq.buildPqIndex(corpus, path, m = 8, k = 16)
    val all = corpus.collect()
    val qs = Seq(3L, 9L).map(id => (id, all.find(_.id == id).get.embedding))
    val fromDisk = Pq.adcTopKManyIndexed(spark, path, qs, kNN = 7)
      .orderBy("q_id", "dist2", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = Pq.adcTopKMany(Pq.encode(corpus, built), built, qs, kNN = 7)
      .orderBy("q_id", "dist2", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromDisk == inline)
  }

  test("persisted IVF-PQ index: search-from-disk == inline; probe prunes partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    val built = Pq.buildIvfPqIndex(corpus, path, nCells = 16, m = 8, k = 16)
    val all = corpus.collect()
    val qs = Seq(3L, 9L).map(id => (id, all.find(_.id == id).get.embedding))
    val fromDisk = Pq.ivfPqTopKManyIndexed(spark, path, qs, nprobe = 6, kNN = 7)
      .orderBy("q_id", "dist2", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = Pq.ivfPqTopKMany(Pq.encodeIvfPq(corpus, built), built, qs,
        nprobe = 6, kNN = 7)
      .orderBy("q_id", "dist2", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromDisk == inline)
    // the probed-cell restriction must reach the scan as PartitionFilters
    // (cell is a parquet partition column), not a post-scan filter
    val planned = Pq.ivfPqTopKManyIndexed(spark, path, qs, nprobe = 6, kNN = 7)
    val plan = planned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("codes"))
      .getOrElse(fail(s"no codes FileScan in plan:\n$plan"))
    // extract ONLY the bracketed PartitionFilters list: matching 'cell'
    // anywhere after the label would false-pass when the predicate lands in
    // the alphabetically-later PushedFilters/DataFilters instead
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scanLine).map(_.group(1))
      .getOrElse(fail(s"no PartitionFilters in scan:\n$scanLine"))
    assert(pf.contains("cell"), s"cell predicate not a partition filter: [$pf]")
  }

  test("a mismatched-dim batch cannot be encoded into an index (silent prefix codes)") {
    val wrongDim = Seq(Vec(9999L, Array.fill(3)(0.5f))).toDS()
    val err = intercept[Exception] {
      Pq.encode(wrongDim, model).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("model expects")),
      s"wrong error: ${msgs(err)}")
  }

  test("a model/codes build mismatch is rejected, not silently decoded") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pq_mismatch").toString
    Pq.buildPqIndex(corpus, path, m = 8, k = 16)
    // simulate a rebuild that died between the codes and model writes: the
    // meta on disk now carries a build_id the codes were not encoded under
    val meta = spark.read.parquet(s"$path/meta").collect().head
    Seq((meta.getInt(0), meta.getInt(1), meta.getInt(2), "stale-build"))
      .toDF("m", "k", "sub_dim", "build_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val all = corpus.collect()
    val qs = Seq(3L).map(id => (id, all.find(_.id == id).get.embedding))
    val err = intercept[IllegalArgumentException] {
      Pq.adcTopKManyIndexed(spark, path, qs, kNN = 5)
    }
    assert(err.getMessage.contains("inconsistent"), err.getMessage)
  }

  test("adc recall@10 beats the random-candidate baseline vs exact L2") {
    val all = corpus.collect()
    val queryIds = Seq(1L, 2L, 3L, 4L, 5L)
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i).toDouble - b(i); d += t * t; i += 1 }
      d
    }
    val codes = Pq.encode(corpus.filter(v => !queryIds.contains(v.id)), model)
      .cache()
    val recalls = queryIds.map { qid =>
      val q = all.find(_.id == qid).get.embedding
      val exact = all.filter(v => !queryIds.contains(v.id))
        .sortBy(v => (l2(q, v.embedding), v.id)).take(10).map(_.id).toSet
      val approx = PqSpec.adcTopK(codes, model, q, kNN = 10)
        .select("id").as[Long].collect().toSet
      approx.intersect(exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    // 10 of ~495 -> random baseline ~0.02; require an order better
    assert(mean > 0.2, s"mean ADC recall $mean (per-query: $recalls)")
    codes.unpersist()
  }
}

/** Single-query ADC searches: the per-query references the batch forms
  * [[Pq.adcTopKMany]] and [[Pq.ivfPqTopKMany]] must reproduce.
  */
object PqSpec {
  import graft.operators.{IvfPqCode, IvfPqModel, PqCode, PqModel}
  import org.apache.spark.sql.{DataFrame, Dataset}

  /** ADC top-k by (approximate) squared L2: the m x k query lookup table
    * is exact per subspace; each candidate costs m lookups. Deterministic
    * ties to the lowest id via TakeOrdered on (dist2, id).
    */
  def adcTopK(
      codes: Dataset[PqCode], model: PqModel,
      query: Array[Float], kNN: Int): DataFrame = {
    import codes.sparkSession.implicits._
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != model dim ${model.m * model.subDim}")
    val m = model.m
    val lut = Pq.lutFor(query, model)
    codes.map { c =>
      var d = 0.0; var j = 0
      while (j < m) { d += lut(j)(c.code(j)); j += 1 }
      (c.id, d)
    }.toDF("id", "dist2")
      .orderBy(col("dist2"), col("id"))
      .limit(kNN)
  }

  /** IVF-PQ ADC for one query: per probed cell a LUT of the query
    * residual, then candidates in those cells cost m lookups each.
    */
  def ivfPqTopK(
      codes: Dataset[IvfPqCode], model: IvfPqModel,
      query: Array[Float], nprobe: Int, kNN: Int): DataFrame = {
    import codes.sparkSession.implicits._
    val centsD = model.centroids.map(_.map(_.toDouble))
    val m = model.pq.m
    val probed = Pq.probeCells(query, centsD, nprobe)
    val luts: Map[Int, Array[Array[Double]]] = probed.map { ci =>
      ci -> Pq.lutFor(Pq.residual(query, model.centroids(ci)), model.pq)
    }.toMap
    val probedSet = probed.toSet
    codes.filter(c => probedSet.contains(c.cell))
      .map { c =>
        val lut = luts(c.cell)
        var d = 0.0; var j = 0
        while (j < m) { d += lut(j)(c.code(j)); j += 1 }
        (c.id, c.cell, d)
      }.toDF("id", "cell", "dist2")
      .orderBy(col("dist2"), col("id"))
      .limit(kNN)
  }
}
