package graft.operators

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A vector with an id — the typed currency of the ANN operators. */
final case class Vec(id: Long, embedding: Array[Float])

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three paths (north star: similarity search at 100 TB):
  *   - [[bruteForceTopK]]: exact baseline. Broadcast the (small) query set,
  *     stream the corpus once, per-query top-k via ranking window. Cost
  *     O(|corpus| * |queries| * dim) with NO corpus shuffle — correct at any
  *     corpus size as long as the query set broadcasts.
  *   - [[lshTopK]]: sign-random-projection LSH. Each vector maps to L
  *     bucket keys (L independent tables of nbits hyperplanes); candidates
  *     are bucket-key equi-joins (shuffle on bucket key, never all-pairs),
  *     then exact cosine ranks the candidates. Recall tuned by (nbits, L).
  *   - [[ivfTopK]]: IVF coarse quantization. Centroids come from a BOUNDED
  *     deterministic sample (size independent of corpus scale) trained with
  *     seeded Lloyd's iterations; search probes only the nprobe nearest
  *     cells per query via a cell-key equi-join.
  *
  * Hyperplanes / centroid seeds are derived deterministically so plans are
  * reproducible run-to-run (no Math.random in the plan). No operator here
  * caches: every intermediate is consumed exactly once (the round-1 forms
  * cached frames that were never unpersisted and leaked executor storage
  * across a long session).
  */
object Ann {

  /** Cosine via the native codegen'd vec_dot expression — identical math
    * to a cosine over VectorMath.dot (sequential double accumulate), ~an
    * order of magnitude less per-row overhead in the scoring loop.
    */
  private def cosineNative(a: Column, b: Column): Column =
    GraftFunctions.vecDot(a, b) /
      (sqrt(GraftFunctions.vecDot(a, a)) * sqrt(GraftFunctions.vecDot(b, b)))

  /** Exact top-k neighbors of each query vector by cosine. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val scored = corpus
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("id"),
        cosineNative(col("embedding"), col("q_emb")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic unit-free hyperplanes: L tables × nbits planes × dim. */
  private[operators] def planes(dim: Int, nbits: Int, tables: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(tables, nbits, dim)(rnd.nextGaussian())
  }

  /** (id, table, bucket) keys for every vector: bucket = sign bits of the
    * nbits hyperplane projections. Runs as a partition-local map (typed,
    * one pass, planes built once per partition).
    *
    * `dim` is explicit and validated against EVERY vector: the hyperplanes
    * are a function of (dim, seed), so a ragged corpus hashed with
    * per-partition dims would silently produce meaningless buckets
    * (round-1 advice finding) — fail loudly instead.
    */
  def lshKeys(ds: Dataset[Vec], dim: Int, nbits: Int, tables: Int, seed: Long): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val ps = planes(dim, nbits, tables, seed)
      it.flatMap { v =>
        require(v.embedding.length == dim,
          s"ragged embedding dimensions: vector ${v.id} has ${v.embedding.length}, expected $dim")
        (0 until tables).iterator.map { t =>
          var bucket = 0L
          var b = 0
          while (b < nbits) {
            var s = 0.0
            var i = 0
            val p = ps(t)(b)
            while (i < dim) { s += p(i) * v.embedding(i); i += 1 }
            if (s >= 0) bucket |= (1L << b)
            b += 1
          }
          (v.id, t, bucket)
        }
      }
    }.toDF("id", "table", "bucket")
  }

  /** Returns (id, cell) assignments via a partition-local map against the
    * broadcast centroids.
    */
  def ivfAssign(corpus: Dataset[Vec], centroids: Array[Vec]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    corpus.mapPartitions { it =>
      val cents = bc.value
      it.map { v => (v.id, nearestCells(v.embedding, cents, 1).head) }
    }.toDF("id", "cell")
  }

  /** Deterministic subsample of ~`target` vectors WITHOUT a global sort:
    * a hash-mod filter spreads the selection pseudo-randomly over the id
    * space, and orderBy+limit on the survivors compiles to
    * TakeOrderedAndProject (per-partition top-k + driver merge). The only
    * full pass is the count — a map-side partial aggregate with no data
    * movement. The round-1 form ran row_number over an UNPARTITIONED window,
    * which moved the entire corpus to a single partition — the engine's one
    * outright 100x-scale failure; this replaces it.
    */
  private[operators] def hashModSample(corpus: Dataset[Vec], target: Int): Array[Vec] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.toDF().count()
    val step = math.max(1L, n / math.max(1L, target.toLong))
    corpus.toDF()
      .filter(pmod(xxhash64(col("id")), lit(step)) === 0)
      .orderBy(col("id"))
      .limit(target)
      .as[Vec].collect()
  }

  /** Trained coarse quantizer: seeded Lloyd's iterations (spherical k-means
    * by cosine) over a BOUNDED deterministic sample of ~nCells*sampleFactor
    * vectors. The sample size is independent of corpus scale — the
    * selection is the shuffle-free hash-mod scan of [[hashModSample]].
    * Deterministic: same corpus + params => same centroids.
    *
    * The assignment scan (each sample vector's nearest centroid) is
    * O(sample * nCells * dim) flops per iteration — at nCells near
    * [[SemDeDup.DriverTrainMaxK]] that is ~10^10 flops, which run SERIALLY
    * on the driver cost the 1M composition rehearsal a 90–199 s stage
    * (round-16 watch item). Round 17 distributes exactly that scan: the
    * collected sample is parallelized once (the same sample*dim floats the
    * collect already moved), each iteration broadcasts the centroids and
    * executors score it — nearest-centroid is a PER-VECTOR pure function
    * with no cross-row accumulation, so executor math is bit-identical to
    * the old driver loop — and only the assignment ints (4*sample bytes)
    * come back. The centroid UPDATE then accumulates on the driver in
    * sample order, the same float-addition order as the round-16 serial
    * form, so trained centroids (and every downstream oracle hash) are
    * byte-identical; only the wall moves, from one driver thread to
    * sample/partitions-sized executor tasks.
    */
  def ivfCentroidsKMeans(
      corpus: Dataset[Vec],
      nCells: Int,
      iters: Int = 5,
      sampleFactor: Int = 32): Array[Vec] = {
    val sample = hashModSample(corpus, nCells * sampleFactor)
    if (sample.length <= nCells)
      return sample.zipWithIndex.map { case (v, i) => Vec(i.toLong, v.embedding) }
    val dim = sample(0).embedding.length
    // strided init, so seeds stay spread across the id range (the lowest
    // ids alone collapse coverage on id-correlated corpora): Lloyd's
    // converges to a much better quantizer from spread seeds
    var cents: Array[Array[Double]] = sample.zipWithIndex.collect {
      case (v, i) if i % math.max(1, sample.length / nCells) == 0 => v
    }.take(nCells).map(_.embedding.map(_.toDouble))
    val sc = corpus.sparkSession.sparkContext
    // Size-gated execution of the assignment scan (round 17): distributing
    // it exists for the DriverTrainMaxK regime (~10^10 flops/iteration at
    // the 1M rehearsal), but each distributed iteration is a Spark job, and
    // at small sample*k*dim the job-launch floor dwarfs the math — the
    // round's bench showed every trained-quantizer query (q111/q146/...)
    // paying ~5 scheduler round-trips to score a few thousand vectors. The
    // scan is a per-vector pure function either way (same nearestCentroid,
    // same sample order), so the driver loop below is bit-identical to the
    // distributed map; only the wall changes. Gate at ~10^8 flops/iteration
    // (< ~100 ms serial): below it the driver scores, above it executors do.
    val flopsPerIter = sample.length.toLong * nCells.toLong * dim.toLong
    val driverScore = flopsPerIter <= (1L << 27)
    // parallelize preserves element order through collect, so the returned
    // assignment array lines up with `sample` by index; slice count only
    // shapes task granularity, never the result
    val sampleRdd = if (driverScore) null else {
      val r = sc.parallelize(
        sample.map(_.embedding).toIndexedSeq,
        math.max(1, math.min(sc.defaultParallelism * 2, sample.length / 64)))
      r.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      r
    }
    try {
      var iter = 0
      while (iter < iters) {
        val assigns: Array[Int] =
          if (driverScore) {
            val cs = cents
            sample.map(v => nearestCentroid(v.embedding, cs))
          } else {
            val bcCents = sc.broadcast(cents)
            val a = sampleRdd.map(emb => nearestCentroid(emb, bcCents.value)).collect()
            bcCents.destroy()
            a
          }
        val sums = Array.fill(nCells)(new Array[Double](dim))
        val counts = new Array[Long](nCells)
        var si = 0
        while (si < sample.length) {
          val ci = assigns(si)
          counts(ci) += 1
          val s = sums(ci)
          val emb = sample(si).embedding
          var i = 0
          while (i < dim) { s(i) += emb(i); i += 1 }
          si += 1
        }
        cents = Array.tabulate(nCells) { ci =>
          if (counts(ci) == 0L) cents(ci) // empty cluster: keep previous seed
          else sums(ci).map(_ / counts(ci))
        }
        iter += 1
      }
    } finally if (sampleRdd != null) sampleRdd.unpersist(blocking = false)
    cents.zipWithIndex.map { case (c, i) => Vec(i.toLong, c.map(_.toFloat)) }
  }

  /** Distributed k-means via Spark ML (k-means|| seeding + distributed
    * Lloyd's): the training path for k beyond [[ivfCentroidsKMeans]]'s
    * driver wall. The sampled driver trainer costs ~32*k^2*d*iters driver
    * flops — quadratic in k, impractical past k ~ 2000; this one is
    * O(n*k*d) per iteration spread across executors with only k*d bytes
    * ever on the driver, so k up to [[SemDeDup.MaxCentroids]] (and the
    * full corpus, not a 32k-point sample) stays tractable. Seeded, so
    * centroids are reproducible run-to-run on a fixed corpus. Same
    * Array[Vec] contract as the driver trainer: ids 0..k-1, float
    * embeddings.
    */
  def kMeansCentroidsDistributed(
      corpus: Dataset[Vec],
      nCells: Int,
      iters: Int = 5,
      seed: Long = 42L): Array[Vec] = {
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.toDF()
      .select(array_to_vector(col("embedding")).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setMaxIter(iters).setSeed(seed)
      .setFeaturesCol("features")
      .fit(feats)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      Vec(i.toLong, c.toArray.map(_.toFloat))
    }
  }

  private def nearestCentroid(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { dot += v(i).toDouble * c(i); na += v(i).toDouble * v(i); nb += c(i) * c(i); i += 1 }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sim > bestSim) { bestSim = sim; best = ci }
      ci += 1
    }
    best
  }

  private def nearestCells(v: Array[Float], cents: Array[Vec], nprobe: Int): Seq[Int] = {
    val sims = cents.indices.map { ci =>
      val c = cents(ci).embedding
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { dot += v(i).toDouble * c(i); na += v(i).toDouble * v(i); nb += c(i).toDouble * c(i); i += 1 }
      ci -> dot / (math.sqrt(na) * math.sqrt(nb))
    }
    sims.sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1)
  }

  /** IVF approximate top-k: search only the `nprobe` cells nearest to each
    * query vector — candidates come from a cell-key equi-join, then exact
    * cosine reranks. At scale the assignment table is computed once and
    * reused across queries (the classic IVF index). The quantizer is
    * [[ivfCentroidsKMeans]].
    */
  def ivfTopK(
      spark: SparkSession,
      corpus: Dataset[Vec],
      queryIds: Seq[Long],
      k: Int,
      nCells: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val cents = ivfCentroidsKMeans(corpus, nCells)
    // assignments are consumed exactly once by the candidate join — no cache
    val assigned = ivfAssign(corpus, cents)
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val qCells = corpus.filter(col("id").isin(queryIds: _*)).as[Vec]
      .flatMap { q => nearestCells(q.embedding, bc.value, nprobe).map(c => (q.id, c)) }
      .toDF("q_id", "cell")
    val candidates = assigned.join(broadcast(qCells), "cell")
      .filter(col("id") =!= col("q_id"))
      .select("q_id", "id").distinct()
    val corpusDf = corpus.toDF("id", "embedding")
    val qDf = corpusDf.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    GraftFunctions.register(spark)
    val scored = candidates
      .join(corpusDf, "id")
      .join(broadcast(qDf), "q_id")
      .select(col("q_id"), col("id"),
        cosineNative(col("embedding"), col("q_emb")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** FILTERED approximate search — the production path for hard-negative
    * mining (q135's scale form): for each query, the top-k most
    * cosine-similar corpus vectors whose label DIFFERS from the query's.
    * The label filter composes into the candidate set BEFORE any scoring
    * (a broadcast join of the per-query label against the cell-pruned
    * candidates), so same-label vectors cost nothing past the id join —
    * the standard filtered-ANN design (filter during traversal, not
    * post-filter the final k).
    *
    * Over-fetch contract: filtering shrinks each probed cell's usable
    * candidates by the filtered fraction, so callers should raise
    * `nprobe` accordingly (a label covering half the corpus wants ~2× the
    * unfiltered nprobe for the same recall). Recall vs the exact
    * different-label brute force is measured in AnnSpec.
    */
  def ivfHardNegatives(
      spark: SparkSession,
      corpus: Dataset[Vec],
      labels: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nCells: Int = 16,
      nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val cents = ivfCentroidsKMeans(corpus, nCells)
    val assigned = ivfAssign(corpus, cents)
    val bc = spark.sparkContext.broadcast(cents)
    val qCells = corpus.filter(col("id").isin(queryIds: _*)).as[Vec]
      .flatMap { q =>
        nearestCells(q.embedding, bc.value, nprobe).map(c => (q.id, c))
      }
      .toDF("q_id", "cell")
    val lab = labels.select(col("id").cast("long").as("id"),
      col("label").as("lab"))
    val qLab = lab.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("lab").as("q_lab"))
    // label inequality joins into the candidate stage: cell-pruned ids ⋈
    // candidate label, anchor label broadcast — same-label rows die here
    val candidates = assigned.join(broadcast(qCells), "cell")
      .filter(col("id") =!= col("q_id"))
      .join(lab, "id")
      .join(broadcast(qLab), "q_id")
      .filter(col("lab") =!= col("q_lab"))
      .select("q_id", "id").distinct()
    val corpusDf = corpus.toDF("id", "embedding")
    val qDf = corpusDf.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    GraftFunctions.register(spark)
    val scored = candidates
      .join(corpusDf, "id")
      .join(broadcast(qDf), "q_id")
      .select(col("q_id"), col("id"),
        cosineNative(col("embedding"), col("q_emb")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Approximate top-k: candidates share any (table, bucket) with the
    * query, then exact cosine ranks candidates. Returns the same schema as
    * bruteForceTopK (queries with < k candidates return fewer rows — the
    * recall/latency trade).
    *
    * The query-side keys are computed from the FILTERED corpus (a pruned
    * scan of <= |queryIds| rows) rather than by filtering the full key set,
    * so the full-corpus keys are built exactly once and nothing needs a
    * cache; the tiny query side broadcasts.
    */
  def lshTopK(
      spark: SparkSession,
      corpus: Dataset[Vec],
      queryIds: Seq[Long],
      k: Int,
      nbits: Int = 6,
      tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    // empty corpus => empty result (not a head() crash): there is no dim
    // to derive and nothing to search
    val first = corpus.take(1)
    if (first.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)].toDF("q_id", "id", "cos_sim", "rank")
    val dim = first(0).embedding.length
    val keys = lshKeys(corpus, dim, nbits, tables, seed)
    val qKeys = lshKeys(corpus.filter(col("id").isin(queryIds: _*)), dim, nbits, tables, seed)
      .withColumnRenamed("id", "q_id")
    val candidates = keys.join(broadcast(qKeys), Seq("table", "bucket"))
      .filter(col("id") =!= col("q_id"))
      .select("q_id", "id").distinct()
    val corpusDf = corpus.toDF("id", "embedding")
    val qDf = corpusDf.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    GraftFunctions.register(spark)
    val scored = candidates
      .join(corpusDf, "id")
      .join(broadcast(qDf), "q_id")
      .select(col("q_id"), col("id"),
        cosineNative(col("embedding"), col("q_emb")).as("cos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
