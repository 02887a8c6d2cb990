package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization codes: `code(j)` is the chosen centroid of
  * subspace j, always in [0, k).
  */
final case class PqCode(id: Long, code: Array[Int])

/** IVF-PQ code: coarse cell + PQ code of the RESIDUAL (v − centroid). */
final case class IvfPqCode(id: Long, cell: Int, code: Array[Int])

/** Trained IVF-PQ index parameters: coarse centroids + a PQ model fit on
  * residuals. Both derive from bounded deterministic samples, so the whole
  * index is reproducible and its driver-side footprint is a few KB.
  */
final case class IvfPqModel(centroids: Array[Array[Float]], pq: PqModel)

/** Per-subspace codebooks: `codebooks(j)(c)` is centroid c of subspace j
  * (length subDim). Total in-memory size m * k * subDim floats — a few KB,
  * broadcast-trivial.
  */
final case class PqModel(
    m: Int, k: Int, subDim: Int, codebooks: Array[Array[Array[Float]]])

/** Product quantization — the memory side of billion-scale vector search
  * (IVF narrows WHERE to look, PQ shrinks WHAT is stored): a dim-D float
  * vector (4D bytes) becomes m sub-codes (m bytes at k=256; here k is
  * caller-chosen), a 16-48x cut that lets the whole corpus index live in
  * executor memory. Search uses asymmetric distance computation (ADC): per
  * query, an m x k lookup table of exact subspace distances is computed
  * once on the driver, then every code row costs m array lookups — no
  * float math per candidate.
  *
  * Scale posture: training is the same BOUNDED deterministic sample +
  * seeded Lloyd's as [[Ann.ivfCentroidsKMeans]] (driver cost fixed,
  * independent of corpus size); encoding is one map over the corpus with
  * the codebooks in the task closure (a few KB); the ADC scan is one map +
  * TakeOrdered — no shuffle anywhere but the final top-k reduction.
  */
object Pq {

  /** Plain L2 Lloyd's over driver-local sample slices (PQ quantizes
    * Euclidean cells; the cosine variant in Ann is for IVF's unit-sphere
    * coarse cells). Deterministic: strided init, fixed iteration count,
    * ties to the lowest centroid id.
    */
  private def lloydL2(
      samples: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val n = samples.length
    val dim = samples(0).length
    var cents: Array[Array[Double]] = samples.zipWithIndex.collect {
      case (v, i) if i % math.max(1, n / k) == 0 => v.map(_.toDouble)
    }.take(k)
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      samples.foreach { v =>
        val ci = nearestL2(v, cents)
        counts(ci) += 1
        val s = sums(ci)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cents.length) { ci =>
        if (counts(ci) == 0L) cents(ci) else sums(ci).map(_ / counts(ci))
      }
      iter += 1
    }
    cents.map(_.map(_.toFloat))
  }

  private def nearestL2(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var ci = 0
    while (ci < cents.length) {
      val c = cents(ci); var d = 0.0; var i = 0
      while (i < c.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  /** m x k table of exact subspace squared distances from `v` (a query or
    * a query residual) to every codebook centroid — THE shared LUT builder
    * behind every ADC search form, so their math cannot drift apart.
    */
  private[graft] def lutFor(v: Array[Float], model: PqModel): Array[Array[Double]] =
    Array.tabulate(model.m) { j =>
      val qs = v.slice(j * model.subDim, (j + 1) * model.subDim)
      model.codebooks(j).map { cb =>
        var d = 0.0; var i = 0
        while (i < model.subDim) { val t = qs(i) - cb(i); d += t * t; i += 1 }
        d
      }
    }

  /** The `nprobe` nearest coarse cells to a query, ties to the lowest id. */
  private[graft] def probeCells(
      q: Array[Float], centsD: Array[Array[Double]], nprobe: Int): Array[Int] =
    centsD.indices.sortBy { ci =>
      val c = centsD(ci); var d = 0.0; var i = 0
      while (i < c.length) { val t = q(i) - c(i); d += t * t; i += 1 }
      (d, ci)
    }.take(nprobe).toArray

  private[graft] def residual(v: Array[Float], c: Array[Float]): Array[Float] =
    Array.tabulate(v.length)(i => v(i) - c(i))

  /** Train per-subspace codebooks on a bounded deterministic sample.
    * Vector dim must be divisible by m.
    */
  def train(
      corpus: Dataset[Vec], m: Int, k: Int,
      iters: Int = 8, sampleFactor: Int = 32): PqModel = {
    val sample = Ann.hashModSample(corpus, k * sampleFactor)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample(0).embedding.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val slices = sample.map(_.embedding.slice(j * subDim, (j + 1) * subDim))
      lloydL2(slices, k, iters)
    }
    PqModel(m, k, subDim, codebooks)
  }

  /** Encode every vector as its per-subspace nearest-centroid codes. The
    * model rides the task closure (a few KB); one map, no shuffle.
    */
  def encode(corpus: Dataset[Vec], model: PqModel): Dataset[PqCode] = {
    import corpus.sparkSession.implicits._
    val m = model.m; val subDim = model.subDim
    // converted once here, serialized into the task closure — NOT per row
    val booksD: Array[Array[Array[Double]]] =
      model.codebooks.map(_.map(_.map(_.toDouble)))
    corpus.map { v =>
      // a short vector would otherwise yield empty tail slices that
      // "quantize" to centroid 0 — silently wrong codes (an append of a
      // mismatched batch would corrupt a good index); check is trivial
      // next to the nearestL2 work
      require(v.embedding.length == m * subDim,
        s"vector ${v.id} has dim ${v.embedding.length}, model expects ${m * subDim}")
      val code = Array.tabulate(m) { j =>
        val slice = v.embedding.slice(j * subDim, (j + 1) * subDim)
        nearestL2(slice, booksD(j))
      }
      PqCode(v.id, code)
    }
  }

  /** Batch ADC: all queries' lookup tables ride one task closure and the
    * corpus is scanned ONCE — q queries cost q*m lookups per candidate in
    * a single pass, not q passes (a per-query search would re-scan per
    * call). Top-k per query via a ranking window
    * on (dist2, id) — deterministic ties.
    */
  def adcTopKMany(
      codes: Dataset[PqCode], model: PqModel,
      queries: Seq[(Long, Array[Float])], kNN: Int): DataFrame = {
    import codes.sparkSession.implicits._
    val m = model.m
    val luts: Array[(Long, Array[Array[Double]])] =
      queries.map { case (qid, q) =>
        require(q.length == model.m * model.subDim,
          s"query $qid dim ${q.length} != model dim ${model.m * model.subDim}")
        (qid, lutFor(q, model))
      }.toArray
    val scored = codes.flatMap { c =>
      luts.iterator.map { case (qid, lut) =>
        var d = 0.0; var j = 0
        while (j < m) { d += lut(j)(c.code(j)); j += 1 }
        (qid, c.id, d)
      }
    }.toDF("q_id", "id", "dist2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dist2"), col("id"))
    scored.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= kNN)
      .select(col("q_id"), col("id"), col("dist2"))
  }

  // ---------------------------------------------------------------- IVF-PQ

  /** Train the combined index on ONE bounded deterministic sample: coarse
    * L2 k-means cells (L2, not the IVF cosine trainer — encode assigns
    * cells by L2, and training with the same metric keeps cells and
    * assignments consistent) + a PQ model fit on RESIDUALS (v − centroid).
    * Residuals concentrate near zero, so the same codebook budget
    * quantizes them much more finely than raw vectors (the standard
    * IVF-PQ layout). `iters`/`sampleFactor` apply to BOTH stages.
    */
  def trainIvfPq(
      corpus: Dataset[Vec], nCells: Int, m: Int, k: Int,
      iters: Int = 8, sampleFactor: Int = 32): IvfPqModel = {
    val sample = Ann.hashModSample(corpus, math.max(nCells, k) * sampleFactor)
    require(sample.nonEmpty, "IVF-PQ training sample is empty")
    val dim = sample(0).embedding.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val cents = lloydL2(sample.map(_.embedding), nCells, iters)
    val centsD = cents.map(_.map(_.toDouble))
    val residuals = sample.map { v =>
      residual(v.embedding, cents(nearestL2(v.embedding, centsD)))
    }
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { j =>
      lloydL2(residuals.map(_.slice(j * subDim, (j + 1) * subDim)), k, iters)
    }
    IvfPqModel(cents, PqModel(m, k, subDim, codebooks))
  }

  /** Encode: assign each vector its coarse cell, PQ-encode the residual.
    * One map; the few-KB model rides the closure.
    */
  def encodeIvfPq(corpus: Dataset[Vec], model: IvfPqModel): Dataset[IvfPqCode] = {
    import corpus.sparkSession.implicits._
    val centsD = model.centroids.map(_.map(_.toDouble))
    val booksD = model.pq.codebooks.map(_.map(_.map(_.toDouble)))
    val m = model.pq.m; val subDim = model.pq.subDim
    corpus.map { v =>
      // same loud dim guard as encode: a mismatched vector would either
      // throw an opaque index error or silently residual-encode a prefix
      require(v.embedding.length == m * subDim,
        s"vector ${v.id} has dim ${v.embedding.length}, model expects ${m * subDim}")
      val cell = nearestL2(v.embedding, centsD)
      val c = model.centroids(cell)
      val res = Array.tabulate(v.embedding.length)(i => v.embedding(i) - c(i))
      val code = Array.tabulate(m)(j =>
        nearestL2(res.slice(j * subDim, (j + 1) * subDim), booksD(j)))
      IvfPqCode(v.id, cell, code)
    }
  }

  /** Batch IVF-PQ ADC: per query, the `nprobe` nearest cells each get a
    * LUT of the query RESIDUAL (it differs per cell), and one scan scores
    * every code row against exactly the queries probing its cell. The
    * cell filter is the IVF win (≈ nprobe/nCells of the corpus scanned),
    * the code width the PQ win. The filter is a Column predicate, so when
    * `codes` comes from a cell-partitioned parquet index the probed-cell
    * restriction becomes PARTITION PRUNING — a typed lambda filter would
    * force a full scan. Top-k per query via the same deterministic ranking
    * window as [[adcTopKMany]].
    */
  def ivfPqTopKMany(
      codes: Dataset[IvfPqCode], model: IvfPqModel,
      queries: Seq[(Long, Array[Float])], nprobe: Int, kNN: Int): DataFrame = {
    import codes.sparkSession.implicits._
    val centsD = model.centroids.map(_.map(_.toDouble))
    val perQuery: Array[(Long, Map[Int, Array[Array[Double]]])] =
      queries.map { case (qid, q) =>
        qid -> probeCells(q, centsD, nprobe).map { ci =>
          ci -> lutFor(residual(q, model.centroids(ci)), model.pq)
        }.toMap
      }.toArray
    val m = model.pq.m
    val anyProbed = perQuery.flatMap(_._2.keys).distinct.toSeq
    val scored = codes.filter(col("cell").isin(anyProbed: _*)).as[IvfPqCode]
      .flatMap { c =>
        perQuery.iterator.flatMap { case (qid, luts) =>
          luts.get(c.cell).map { lut =>
            var d = 0.0; var j = 0
            while (j < m) { d += lut(j)(c.code(j)); j += 1 }
            (qid, c.id, d)
          }
        }
      }.toDF("q_id", "id", "dist2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dist2"), col("id"))
    scored.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= kNN)
      .select(col("q_id"), col("id"), col("dist2"))
  }

  // ------------------------------------------------ persisted index lifecycle
  //
  // Encode-once / search-many is the entire point of PQ at scale: training
  // and encoding cost one corpus pass each, searches cost m lookups per
  // candidate. The inline forms above retrain per call; these persist the
  // few-KB model and the m-byte codes to parquet so every later query
  // reads codes from disk without touching the float corpus at all. Floats
  // round-trip parquet exactly, so search-from-disk is bit-identical to
  // inline search on the same model (PqSpec proves it).
  //
  // Layout: <path>/model one row per (subspace j, centroid c) codebook entry
  //         <path>/meta  one row (m, k, subDim, build_id)
  //         <path>/centroids (IVF-PQ only) one row per coarse cell
  //         <path>/codes PqCode rows + a constant build_id column;
  //           IvfPqCode partitioned BY CELL so a probe of nprobe cells
  //           prunes to nprobe/nCells of the files.
  //
  // Rebuild-in-place safety: writes are codes FIRST, model/meta LAST, each
  // build stamped with a fresh build_id in BOTH meta and the codes rows
  // (constant column — run-length-encoded to nothing in parquet). A crash
  // mid-rebuild leaves either missing model files (load throws) or a
  // build_id mismatch between codes and meta — the indexed searches check
  // it and fail loudly instead of decoding codes against the wrong
  // codebooks. The codes overwrite pins partitionOverwriteMode=static so a
  // session-level `dynamic` setting cannot leave stale cell partitions
  // from a previous build alive.

  private def writePqModel(
      spark: SparkSession, model: PqModel, path: String,
      buildId: String): Unit = {
    import spark.implicits._
    val rows = for {
      j <- model.codebooks.indices
      c <- model.codebooks(j).indices
    } yield (j, c, model.codebooks(j)(c).toSeq)
    rows.toDF("j", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
    // meta last: it is the commit marker the readers require
    Seq((model.m, model.k, model.subDim, buildId))
      .toDF("m", "k", "sub_dim", "build_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def readPqModelWithId(
      spark: SparkSession, path: String): (PqModel, String) = {
    import spark.implicits._
    val (m, k, subDim, buildId) = spark.read.parquet(s"$path/meta")
      .select("m", "k", "sub_dim", "build_id")
      .as[(Int, Int, Int, String)].head()
    val rows = spark.read.parquet(s"$path/model")
      .select("j", "c", "centroid").as[(Int, Int, Array[Float])].collect()
    val byJ = rows.groupBy(_._1)
    val codebooks = Array.tabulate(m) { j =>
      byJ(j).sortBy(_._2).map(_._3)
    }
    (PqModel(m, k, subDim, codebooks), buildId)
  }

  /** The codes' stamped build id (one tiny scan of one file) checked
    * against the model's: a mismatch means a rebuild died between the
    * codes and model writes — decoding would be silently wrong.
    */
  private def requireConsistentBuild(
      spark: SparkSession, codesPath: String, modelBuildId: String): Unit = {
    val head = spark.read.parquet(codesPath).select("build_id").take(1)
    head.foreach { r =>
      require(r.getString(0) == modelBuildId,
        s"index at $codesPath is inconsistent: codes build ${r.getString(0)} " +
          s"!= model build $modelBuildId — a rebuild failed partway; rebuild the index")
    }
  }

  /** Train on the bounded sample, encode the whole corpus, persist codes +
    * model. Returns the trained model (callers holding it skip the re-read).
    */
  def buildPqIndex(
      corpus: Dataset[Vec], path: String, m: Int, k: Int,
      iters: Int = 8, sampleFactor: Int = 32): PqModel = {
    val model = train(corpus, m, k, iters, sampleFactor)
    val buildId = java.util.UUID.randomUUID().toString
    encode(corpus, model).withColumn("build_id", lit(buildId))
      .write.mode("overwrite").parquet(s"$path/codes")
    writePqModel(corpus.sparkSession, model, path, buildId)
    model
  }

  def loadPqCodes(spark: SparkSession, path: String): Dataset[PqCode] = {
    import spark.implicits._
    spark.read.parquet(s"$path/codes").select(col("id"), col("code")).as[PqCode]
  }

  /** Batch ADC against a persisted [[buildPqIndex]] index: model to the
    * driver (a few KB), codes streamed from parquet, zero retraining.
    */
  def adcTopKManyIndexed(
      spark: SparkSession, indexPath: String,
      queries: Seq[(Long, Array[Float])], kNN: Int): DataFrame = {
    val (model, buildId) = readPqModelWithId(spark, indexPath)
    requireConsistentBuild(spark, s"$indexPath/codes", buildId)
    adcTopKMany(loadPqCodes(spark, indexPath), model, queries, kNN)
  }

  /** Train, encode, persist the combined IVF-PQ index; codes are written
    * PARTITIONED BY CELL so later probes read only their cells' files.
    */
  def buildIvfPqIndex(
      corpus: Dataset[Vec], path: String, nCells: Int, m: Int, k: Int,
      iters: Int = 8, sampleFactor: Int = 32): IvfPqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = trainIvfPq(corpus, nCells, m, k, iters, sampleFactor)
    val buildId = java.util.UUID.randomUUID().toString
    encodeIvfPq(corpus, model).withColumn("build_id", lit(buildId))
      .write.partitionBy("cell")
      .option("partitionOverwriteMode", "static")
      .mode("overwrite").parquet(s"$path/codes")
    model.centroids.zipWithIndex
      .map { case (cent, ci) => (ci, cent.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    writePqModel(spark, model.pq, s"$path/pq", buildId)
    model
  }

  private def loadCentroids(
      spark: SparkSession, path: String): Array[Array[Float]] = {
    import spark.implicits._
    spark.read.parquet(s"$path/centroids")
      .select("cell", "centroid")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
  }

  def loadIvfPqCodes(spark: SparkSession, path: String): Dataset[IvfPqCode] = {
    import spark.implicits._
    // partition column `cell` comes back from the directory names; select to
    // the case-class field order so the encoder binds by position too
    spark.read.parquet(s"$path/codes")
      .select(col("id"), col("cell").cast("int").as("cell"), col("code"))
      .as[IvfPqCode]
  }

  /** Batch search against a persisted [[buildIvfPqIndex]] index: the probed
    * cells reach the parquet scan as a partition filter, so only
    * nprobe/nCells of the code files are read — the on-disk analog of the
    * IVF candidate join.
    */
  def ivfPqTopKManyIndexed(
      spark: SparkSession, indexPath: String,
      queries: Seq[(Long, Array[Float])], nprobe: Int, kNN: Int): DataFrame = {
    val (pqModel, buildId) = readPqModelWithId(spark, s"$indexPath/pq")
    requireConsistentBuild(spark, s"$indexPath/codes", buildId)
    val model = IvfPqModel(loadCentroids(spark, indexPath), pqModel)
    ivfPqTopKMany(loadIvfPqCodes(spark, indexPath), model, queries, nprobe, kNN)
  }
}
