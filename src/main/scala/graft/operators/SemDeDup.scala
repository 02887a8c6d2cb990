package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions
import graft.plans.GraftFunctions.vecDot

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication"): semantic near-duplicate
  * pairs = k-means cluster assignment, then cosine scoring WITHIN each
  * cluster only. The self-join is keyed on the cluster id, so the
  * candidate set is O(sum of cluster-size squared) — linear in corpus
  * size ONLY IF cluster population stays bounded, i.e. k grows with N.
  *
  * That contract is the load-bearing scale property, and it is exactly
  * what the declared oracle query q101 cannot honor: q101 pins 8
  * deterministic centroids so DuckDB can replay the assignment, which
  * makes its within-cluster join quadratic in corpus size. The round-7
  * scale rehearsal measured the consequence — at 400k vectors (200x the
  * sf0.1 corpus) the fixed-k form is ~10 BILLION pair evaluations and ran
  * >35 min without completing, while [[pairs]] over [[trainedCentroids]]
  * (q111) with the same data and a bounded target cluster size finishes
  * in minutes. Use q101's form for oracle parity at test scale; use
  * trained centroids everywhere else.
  *
  * Assignment is the broadcast-centroid argmin (q82's shape): one pass
  * over the corpus, no shuffle of the embedding column beyond the final
  * cluster-key exchange. The centroid table must therefore stay
  * broadcast-small — [[MaxCentroids]] caps k and the ceiling is enforced
  * loudly. Beyond that ceiling (k > 64k ~ a multi-billion-vector corpus
  * at the default target), assignment itself needs an index over the
  * centroids instead of one broadcast argmin; the pair stage is
  * unchanged.
  */
object SemDeDup {

  /** Broadcast ceiling for the centroid table: 65536 centroids x 64-dim
    * float = 16 MB serialized, comfortably under Spark's broadcast sweet
    * spot; the argmin cost k*d per row is the binding constraint before
    * memory is.
    */
  val MaxCentroids: Int = 1 << 16

  /** Within-cluster cosine near-dup pairs given an explicit centroid
    * table. `centroids` must be broadcast-small: (c_id: numeric,
    * c_emb: array<float>) — trained ([[Ann.ivfCentroidsKMeans]]) or
    * deterministic (q101's corpus rows). Members are assigned to their
    * nearest centroid by squared-L2 argmin (ties -> lowest c_id,
    * 4-decimal parity rounding on the distance — deterministic across
    * engines and partitionings), then every same-cluster pair with
    * `round(cosine, 4) >= minCos` is emitted as
    * (cluster, vec_a, vec_b, cos_sim), vec_a < vec_b.
    *
    * The argmin is a TRUE hash aggregate — min over the [[packExpr]]
    * packed long — NOT a window over the crossJoin output and NOT a
    * min_by(struct): partial aggregation collapses each map task's n_p*k
    * assignment rows back to n_p rows BEFORE the exchange (a window's
    * partitionBy would ship all n*k rows, ~47 GB at 400k x 391), and the
    * one-long buffer keeps the planner on HashAggregate (the struct form
    * planned as SortAggregate and spilled 134 GB at the same scale — see
    * [[packExpr]]). No ties exist in the pack (c_id occupies the low
    * bits), so the argmin is deterministic.
    *
    * Member ids must be UNIQUE — the corpus-key contract every index
    * operator in the repo shares: a duplicated id re-attaches once per
    * copy at the embedding join and fans out into duplicated pair rows.
    */
  def pairs(
      members: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      minCos: Double,
      saltAbove: Int = 0): DataFrame =
    pairStage(assignCarry(members, idCol, vecCol, centroids), minCos,
      saltAbove)

  /** Squared-distance to each centroid, shared by every assignment path.
    * The c_id domain guard lives here so every argmin sees it: ids must
    * fit the [[packExpr]] low bits, and they are cluster LABELS (small
    * ints by construction everywhere in the repo), not data ids — the
    * raise_error fires in-plan, costing nothing on valid input.
    */
  private def centsWithNorm(centroids: DataFrame): DataFrame =
    centroids.select(
      when(col("c_id") >= 0 && col("c_id") < MaxCentroids, col("c_id"))
        .otherwise(raise_error(concat(
          lit(s"semdedup centroid id out of [0, $MaxCentroids): "),
          col("c_id")))).as("c_id"),
      col("c_emb"),
      vecDot(col("c_emb"), col("c_emb")).as("c2"))

  private def d2Expr = col("e2") + col("c2") -
    lit(2.0) * vecDot(col("embedding"), col("c_emb"))

  /** The argmin ordering (parity-rounded d2, c_id) packed into ONE long:
    * floor(d2*1e4 + 0.5) in the high bits, c_id in the low 16. Numeric
    * order on the pack == lexicographic order on the pair (c_id < 2^16 by
    * the centsWithNorm guard; distinct scaled distances stay distinct
    * doubles well past 2^40, so the pre-pack comparison is unchanged from
    * the struct form — q101/q112/q113 hashes are identical).
    *
    * WHY a packed long and not min_by(struct(...)): a struct ordering is
    * not a mutable fixed-width aggregation buffer, so Catalyst planned the
    * whole argmin as SortAggregate — the map side SORTED all n*k expanded
    * rows (embeddings included) before collapsing them. The round-7 sf2
    * rehearsal measured the consequence: 91 GB memory spill + 43 GB disk
    * spill at 400k x 391 cells. min(long) is a plain HashAggregate: the
    * n*k expansion streams through a 16-byte-per-group hash map and the
    * exchange still carries one row per member.
    */
  private def packExpr: Column = {
    val scaled = floor(d2Expr * 10000.0 + 0.5).cast("long")
    // magnitude guard, same loud-failure posture as the c_id guard: past
    // 2^46 the *MaxCentroids multiply would overflow Long (ANSI mode dies
    // opaquely; non-ANSI wraps negative and silently WINS the min). d2 ~
    // 1.4e10 means L2 norms ~ 1e5 — unnormalized feature vectors, not
    // embeddings; the fix there is normalizing, not a wider pack
    val guarded = when(scaled < (1L << 46), scaled)
      .otherwise(raise_error(concat(
        lit("semdedup: squared centroid distance too large to pack ("),
        scaled, lit(" * 1e-4) — normalize the embedding column"))))
    guarded * MaxCentroids.toLong + col("c_id")
  }

  private def unpackCluster(packed: Column): Column =
    pmod(packed, lit(MaxCentroids.toLong))

  /** Gate for the row-wise LITERAL argmin (round 18): at or below this k
    * the centroid table is collected to the driver (k+1-row limit probe —
    * centroids are broadcast-small by contract, and the pinned-oracle /
    * bench-scale quantizers are single-digit k) and the argmin becomes
    * `least()` over k codegen'd packed-long expressions — no n×k crossJoin
    * expansion, no hash aggregate, no exchange, and [[pairs]] loses its
    * id-keyed re-join too (the embedding never leaves the row). The pack
    * per (member, centroid) is the IDENTICAL expression [[packExpr]]
    * evaluates — c2 = vec_dot(lit, lit) constant-folds through the same
    * native kernel — and least() skips NULLs exactly like min(), so the
    * winning cluster is bit-identical (SemDeDupSpec pins literal ==
    * aggregate). Above the gate the expression tree bloats past what
    * codegen compiles well — MEASURED: k = 32 literal packs ran ~2×
    * slower than the crossJoin + map-side-combined aggregate on q111,
    * while k = 8 (q101/q112's pinned oracle centroids) is a clear win —
    * so the gate sits below the measured break-even, and the 1M-scale
    * trained quantizers (k in the hundreds) keep the aggregate shape.
    */
  val LiteralAssignMaxK: Int = 16

  /** The driver-side centroid list when the literal path applies: ids
    * validated on the driver (same domain as the in-plan guard), vectors
    * as typed literals of their NATIVE element type so every downstream
    * vec_dot sees the same arithmetic. None → use the aggregate path
    * (too many centroids, a NULL row, or a non-float/double element).
    * Carries the max centroid L2 norm for [[requirePackable]]'s bound.
    */
  private final case class LitCents(cs: Seq[(Long, Column)], maxNorm: Double)

  private def literalCents(centroids: DataFrame): Option[LitCents] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val elemT = centroids.schema.find(_.name == "c_emb").map(_.dataType) match {
      case Some(ArrayType(t, _)) => t
      case _ => return None
    }
    if (elemT != FloatType && elemT != DoubleType) return None
    val rows = centroids
      .select(col("c_id").cast("long").as("c_id"), col("c_emb"))
      .limit(LiteralAssignMaxK + 1).collect()
    if (rows.length > LiteralAssignMaxK || rows.isEmpty ||
      rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else {
      var maxN2 = 0.0
      val cs = rows.toSeq.map { r =>
        val id = r.getLong(0)
        require(id >= 0 && id < MaxCentroids,
          s"semdedup centroid id out of [0, $MaxCentroids): $id")
        val vals: Seq[Double] =
          if (elemT == FloatType) r.getSeq[Float](1).map(_.toDouble)
          else r.getSeq[Double](1)
        maxN2 = math.max(maxN2, vals.map(x => x * x).sum)
        val emb = if (elemT == FloatType) typedLit(r.getSeq[Float](1))
          else typedLit(r.getSeq[Double](1))
        (id, emb)
      }
      Some(LitCents(cs, math.sqrt(maxN2)))
    }
  }

  /** The [[packExpr]] magnitude guard, literal-path form: raise_error
    * ANYWHERE in a projection forfeits whole-stage codegen for the whole
    * stage (measured: the per-pack guard tripled q101's warm time, and
    * even ONE guarded branch cost ~0.5 s), so the literal path checks the
    * bound ONCE at plan-construction with a tiny max-norm aggregate
    * instead of per (row, centroid). Cauchy–Schwarz: d2 ≤ (‖x‖ + ‖c‖)²,
    * so max‖x‖ + max‖c‖ under the pack limit ⇒ NO pack can overflow —
    * the same loud-failure class as the in-plan guard (checked for every
    * row, raised at construction instead of mid-job), conservative only
    * in the garbage-magnitude regime both guards exist to reject.
    */
  private def requirePackable(base: DataFrame, maxCentNorm: Double): Unit = {
    val maxE2 = base.agg(max(col("e2"))).collect()(0)
    if (!maxE2.isNullAt(0)) {
      val bound = math.sqrt((1L << 46).toDouble / 10000.0)
      require(math.sqrt(maxE2.getDouble(0)) + maxCentNorm < bound,
        "semdedup: squared centroid distances too large to pack " +
          s"(max embedding norm ${math.sqrt(maxE2.getDouble(0))}, max " +
          s"centroid norm $maxCentNorm) — normalize the embedding column")
    }
  }

  /** One centroid's packed-long ordering key against the row's
    * (embedding, e2) — [[packExpr]] with the centroid columns replaced by
    * literals; the magnitude guard lives in [[requirePackable]]. */
  private def packLit(cId: Long, cEmb: Column): Column = {
    val d2 = col("e2") + vecDot(cEmb, cEmb) -
      lit(2.0) * vecDot(col("embedding"), cEmb)
    floor(d2 * 10000.0 + 0.5).cast("long") * MaxCentroids.toLong + lit(cId)
  }

  private def clusterLit(cs: Seq[(Long, Column)]): Column = {
    val packs = cs.map { case (id, emb) => packLit(id, emb) }
    unpackCluster(if (packs.length == 1) packs.head else least(packs: _*))
  }

  /** Embedding-free assignment — (vec_id, cluster) via the packed-long
    * argmin. This is the index build/append path, where assignments are
    * persisted and embeddings stay in the corpus; the aggregate state is
    * one long, the exchange one row per member. Small centroid tables
    * (≤ [[LiteralAssignMaxK]]) take the row-wise literal path instead —
    * zero exchanges, identical clusters.
    */
  def assign(
      members: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    GraftFunctions.register(members.sparkSession)
    val base = members
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("e2", vecDot(col("embedding"), col("embedding")))
    literalCents(centroids) match {
      case Some(lc) =>
        requirePackable(base, lc.maxNorm)
        base.select(col("vec_id"), clusterLit(lc.cs).as("cluster"))
      case None => assignAgg(members, idCol, vecCol, centroids)
    }
  }

  /** The crossJoin + packed-argmin aggregate path, unconditionally —
    * spec-visible so SemDeDupSpec can pin literal == aggregate on the
    * same inputs. */
  private[graft] def assignAgg(
      members: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    GraftFunctions.register(members.sparkSession)
    members
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("e2", vecDot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(centsWithNorm(centroids)))
      .groupBy(col("vec_id"))
      .agg(min(packExpr).as("packed"))
      .select(col("vec_id"), unpackCluster(col("packed")).as("cluster"))
  }

  /** [[assign]] plus the pair-scoring columns: (vec_id, cluster,
    * embedding, nm). On the aggregate path the embedding is NOT carried
    * through the aggregate (a first(array) buffer would force the same
    * SortAggregate the packed argmin exists to avoid) — it re-attaches by
    * an id-keyed join of n rows, which at 400k x 64-dim is ~100 MB of
    * exchange vs the 134 GB of measured sort spill it replaces. On the
    * literal path (round 18) the cluster is a row-wise expression, so
    * nothing re-attaches: one scan, one projection.
    */
  private def assignCarry(
      members: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    GraftFunctions.register(members.sparkSession)
    literalCents(centroids) match {
      case Some(lc) =>
        val base = members
          .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
          .withColumn("e2", vecDot(col("embedding"), col("embedding")))
        requirePackable(base, lc.maxNorm)
        base.select(col("vec_id"), clusterLit(lc.cs).as("cluster"),
          col("embedding"), sqrt(col("e2")).as("nm"))
      case None =>
        members
          .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
          .join(assign(members, idCol, vecCol, centroids), "vec_id")
          .select(col("vec_id"), col("cluster"), col("embedding"),
            sqrt(vecDot(col("embedding"), col("embedding"))).as("nm"))
    }
  }

  /** The ONE cosine-scoring expression (rounding included) every pair
    * emitter shares — a parity-precision tweak lands everywhere at once.
    */
  private def cosScore(eA: Column, eB: Column, nmA: Column, nmB: Column): Column =
    round(vecDot(eA, eB) / (nmA * nmB), 4)

  /** Same-cluster pair scoring over an assigned frame
    * (vec_id, cluster, embedding, nm): every pair with
    * round(cos, 4) >= minCos, vec_a < vec_b.
    *
    * `saltAbove > 0` routes the self-join through [[BandedSelfJoin]]'s
    * salted branch (cluster = the bucket key): clusters larger than the
    * threshold split their quadratic scan over up-to-64 salted reducer
    * keys. Round-17 motivation, MEASURED: k-means balance is a hope, not
    * a contract (the class doc's own caveat) — on the 1M slice's 400k
    * embeddings the trained-quantizer pair stage put a whole dense
    * cluster's n²/2 cosine scan in ONE task (111.5 s of a 125 s wall,
    * attributed by stage), and AQE's skew-join cannot split it because
    * both join sides reuse one exchange. The salted plan's pair SET is
    * identical (each pair meets at the a-row's salt exactly once —
    * DedupSpec's set-equality proof covers the shared branch), so oracle
    * hashes are unchanged wherever it engages. Off by default: the
    * unsalted plan keeps AQE exchange reuse and lazy construction, the
    * right trade for the pinned-centroid oracle twins; the AUTO (scale)
    * forms default it to their targetClusterSize.
    */
  private def pairStage(
      assigned: DataFrame, minCos: Double, saltAbove: Int = 0): DataFrame = {
    if (saltAbove > 0) {
      val keyed = assigned.select(col("vec_id").as("id"), lit(0).as("band"),
        col("cluster").as("key"), col("embedding"), col("nm"))
      return BandedSelfJoin.pairs(keyed, maxBucket = 0, saltAbove = saltAbove)
        .select(col("a.key").as("cluster"),
          col("a.id").as("vec_a"), col("b.id").as("vec_b"),
          cosScore(col("a.embedding"), col("b.embedding"),
            col("a.nm"), col("b.nm")).as("cos_sim"))
        .filter(col("cos_sim") >= minCos)
    }
    // Round-18: materialize the assigned frame ONCE before the self-join —
    // the hoped-for AQE exchange reuse between the two sides never fired
    // in the executed q101 plan (both subtrees ran end to end, scans and
    // argmin included: 18 exchanges, two full assignment pipelines). The
    // checkpoint is the exchange payload the join shipped anyway (n rows
    // with embeddings); same eager/non-reliable caveats as the salted
    // branch's, accepted for the same reason. An input that is ALREADY a
    // materialized leaf (incrementalPairs checkpoints bAssigned itself)
    // is used as-is — re-checkpointing it copied memory to memory, one
    // whole scheduler job for nothing (measured on q112).
    val once = assigned.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD |
           _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => assigned
      case _ => assigned.localCheckpoint(true)
    }
    val a = once.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("e_a"), col("nm").as("nm_a"))
    val b = once.select(col("cluster").as("cl_b"), col("vec_id").as("vec_b"),
      col("embedding").as("e_b"), col("nm").as("nm_b"))
    a.join(b, col("cluster") === col("cl_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        cosScore(col("e_a"), col("e_b"), col("nm_a"), col("nm_b")))
      .filter(col("cos_sim") >= minCos)
      .select(col("cluster"), col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** The scale form: trains k = ceil(n / targetClusterSize) centroids
    * (clamped to [1, [[MaxCentroids]]]) with the bounded-sample Lloyd's
    * quantizer, then delegates to [[pairs]]. Honors the paper's contract
    * that per-cluster population stays ~targetClusterSize as the corpus
    * grows, keeping the pair stage O(n * targetClusterSize) instead of
    * O(n^2). The corpus-size probe is a count over the pruned id column —
    * one metadata-cheap pass, same trade [[Ann.hashModSample]] documents.
    *
    * k-means balance caveat: Lloyd's does not guarantee equal-size cells;
    * a dense semantic region can exceed targetClusterSize. That shifts
    * constant factors, not the complexity class — every cell is still a
    * bounded fraction of the corpus, and AQE's skew-join handles a hot
    * cluster key at execution time.
    *
    * Training auto-selects by k: [[Ann.ivfCentroidsKMeans]] runs Lloyd's
    * on a bounded sample of 32*k points — ~32*k^2*d*iters assignment
    * flops, QUADRATIC in k. Round 17 moved that assignment scan onto
    * executors (broadcast centroids, per-vector scoring, only assignment
    * ints return — byte-identical centroids, see the trainer's doc), so
    * the driver's own work per iteration is the O(32*k*d) centroid
    * update; [[DriverTrainMaxK]] now bounds the SAMPLE the driver holds
    * (32*k vectors, about 2M corpus vectors at the default target), not a
    * serial-compute wall. Beyond it the trainer switches to
    * [[Ann.kMeansCentroidsDistributed]] (Spark ML k-means||, O(n*k*d)
    * per iteration across executors, full corpus not a sample). The two
    * trainers yield different (both valid) quantizers, so a given corpus
    * gets deterministic output from whichever side of the threshold it
    * lands on.
    */
  val DriverTrainMaxK: Int = 2048

  /** The size-scaled trained quantizer (q111's):
    * k = ceil(n / targetClusterSize) clamped to [1, [[MaxCentroids]]],
    * trainer auto-selected by k (driver Lloyd's vs k-means|| — see class
    * doc). Returns the (c_id, c_emb) frame the explicit-centroid entry
    * points accept; ids are 0..k-1 by both trainers' contract.
    */
  def trainedCentroids(
      members: DataFrame,
      idCol: String,
      vecCol: String,
      targetClusterSize: Int = 1024,
      iters: Int = 5): DataFrame = {
    require(targetClusterSize >= 2,
      s"targetClusterSize must be >= 2, got $targetClusterSize")
    val s = members.sparkSession
    import s.implicits._
    val ds = members
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("embedding"))
      .as[Vec]
    val n = ds.count()
    require(n > 0, "training a quantizer on an empty embedding frame")
    val k = math.min(MaxCentroids.toLong,
      math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)).toInt
    val cents =
      if (k <= DriverTrainMaxK) Ann.ivfCentroidsKMeans(ds, k, iters)
      else Ann.kMeansCentroidsDistributed(ds, k, iters)
    cents.toSeq.map(v => (v.id, v.embedding)).toDF("c_id", "c_emb")
  }

  /** The SemDeDup ACTION closing the pairs loop (as excise closes the
    * duplicated-spans loop): semantic duplicate components = connected
    * components over the ≥-threshold pair graph; keep each component's
    * lowest-id member, drop the rest. Returns the surviving rows with
    * every input column plus `dup_count` — how many members (itself
    * included) the survivor represents, i.e. the dedup ratio ledger a
    * training-mix builder needs for upsampling decisions.
    *
    * Scale shape: the pair graph is the cluster-keyed join (never
    * all-pairs); components via [[DedupClusters.clusterAssignments]]
    * (size-adaptive driver/distributed union-find). Near-dup components
    * are overwhelmingly tiny, so the CC input is |pairs|, not |corpus|.
    */
  def dedup(
      members: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      minCos: Double,
      saltAbove: Int = 0): DataFrame = {
    val p = pairs(members, idCol, vecCol, centroids, minCos, saltAbove)
      .select(col("vec_a").as("id_a"), col("vec_b").as("id_b"))
    val assign = DedupClusters.clusterAssignments(members, idCol, p)
    members.join(
      assign.filter(col(idCol) === col("cluster_id"))
        .select(col(idCol), col("cluster_size").as("dup_count")),
      idCol)
  }

  // ---- persisted index -----------------------------------------------
  //
  // `<path>/centroids` is the quantizer (c_id, c_emb), `<path>/assignments`
  // the (vec_id, cluster) table. Embeddings are NOT persisted — the corpus
  // parquet already holds them; duplicating them into the index would
  // double the footprint for no query benefit (pair scoring re-joins the
  // corpus by id either way).

  /** Persist a SemDeDup index: the (broadcast-small) centroid quantizer
    * plus the corpus' cluster assignments. One assignment pass — the
    * expensive step at corpus scale — after which [[incrementalPairs]]
    * reads the stored assignments instead of re-quantizing. Caller
    * supplies centroids (trained via
    * [[Ann.ivfCentroidsKMeans]]/[[Ann.kMeansCentroidsDistributed]], or
    * deterministic for oracle parity).
    */
  def buildIndex(
      members: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, path: String): Unit = {
    val k = centroids.count()
    require(k > 0 && k <= MaxCentroids,
      s"centroid count $k outside (0, $MaxCentroids] — the quantizer must stay broadcast-small")
    centroids.select(col("c_id").cast("long").as("c_id"), col("c_emb"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    // assign from the PERSISTED quantizer, not the caller's frame: a live
    // centroids plan re-executes per action, and a nondeterministic one
    // would persist one quantizer while assignments were computed under
    // another — the stored parquet is the single source of truth
    assign(members, idCol, vecCol, loadCentroids(members.sparkSession, path))
      .write.mode("overwrite").parquet(s"$path/assignments")
  }

  /** The stored quantizer. Broadcast-small by [[buildIndex]]'s ceiling. */
  def loadCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/centroids")

  /** The stored (vec_id, cluster) assignment table. */
  def loadAssignments(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/assignments")

  /** Incremental semantic dedup: pairs INVOLVING the batch — batch vs the
    * live indexed corpus plus within-batch — under the stored quantizer.
    * This is the arrival-time dedup decision ("is anything in this batch a
    * semantic dup of what we already hold, or of each other?") and it
    * costs O(batch × cluster population), never a corpus self-join: the
    * batch assigns in one pass, the assignment table is pruned to the
    * (≤ k, broadcast-small) clusters the batch touches, and only those
    * clusters' members fetch embeddings. Contract (q112's oracle): equal
    * to [[pairs]] over indexed ∪ batch filtered to pairs with a batch
    * member. Indexed copies of re-sent batch ids are excluded from the
    * indexed side (same id never pairs with itself); `corpus` supplies
    * embeddings for indexed ids — batch rows need not be in it.
    */
  def incrementalPairs(
      batch: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      path: String, minCos: Double): DataFrame = {
    val spark = batch.sparkSession
    GraftFunctions.register(spark)
    val cents = loadCentroids(spark, path)
    val bAssigned = assignCarry(batch, idCol, vecCol, cents)
      .localCheckpoint(true) // consumed 4× below (clusters, ids, cross, within)
    val bClusters = bAssigned.select(col("cluster")).distinct()
    val bIds = bAssigned.select(col("vec_id"))
    // bClusters is PROVABLY broadcast-small (≤ k ≤ MaxCentroids) — hint it.
    // bIds is batch-sized with no such bound: leave the anti-join to AQE,
    // which broadcasts it at runtime when the checkpointed batch is small
    // (the plan audit sees exactly that at test scale) and falls back to a
    // shuffled join for a batch too big to hold on the driver
    val liveEmb = loadAssignments(spark, path)
      .join(broadcast(bClusters), Seq("cluster"), "left_semi")
      .join(bIds, Seq("vec_id"), "left_anti")
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        "vec_id")
      .withColumn("nm", sqrt(vecDot(col("embedding"), col("embedding"))))
    val b = bAssigned.select(col("cluster").as("cl_b"), col("vec_id").as("b_id"),
      col("embedding").as("e_b"), col("nm").as("nm_b"))
    val cross = liveEmb
      .join(b, col("cluster") === col("cl_b"))
      .withColumn("cos_sim",
        cosScore(col("embedding"), col("e_b"), col("nm"), col("nm_b")))
      .filter(col("cos_sim") >= minCos)
      .select(col("cluster"),
        least(col("vec_id"), col("b_id")).as("vec_a"),
        greatest(col("vec_id"), col("b_id")).as("vec_b"),
        col("cos_sim"))
    cross.unionByName(pairStage(bAssigned, minCos))
  }
}
