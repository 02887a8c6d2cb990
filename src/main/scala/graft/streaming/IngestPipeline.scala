package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{LshIndexStore, MinHashLSH, QualityClassifier}
import graft.queries.Curation

/** The COMPOSED streaming ingest — the streaming twin of the batch
  * curation composition (PipelineSpec's capstone): a continuous feed of
  * new documents folds, micro-batch by micro-batch, into the three living
  * artifacts a standing corpus keeps —
  *
  *   1. the bucketed corpus table ([[Curation.writeBucketed]] layout,
  *      mutated by [[Curation.upsertByKey]]),
  *   2. the persisted LSH band index — since round 17 a
  *      [[LshIndexStore]] BUCKETED by (band, key), so batch N+1 dedups
  *      against everything batch N kept through a PRUNED read,
  *   3. the mergeable stats table ([[Curation.mergeDocStats]]).
  *
  * Per batch: verified near-dup dedup against the index (candidates from
  * the band join, then EXACT Jaccard against the matched corpus texts —
  * fetched with a bucket-PRUNED read, so verification I/O scales with the
  * match count, never the corpus), then verified intra-batch dedup
  * (keep-first: a doc drops iff a verified smaller-id partner exists in
  * the same batch, the standard greedy rule), then the quality gate
  * ([[QualityClassifier]] score ≥ threshold), then the three artifact
  * mutations. Every stage is the EXACT batch operator run inside
  * `foreachBatch` — the fold step [[processBatch]] is a plain batch
  * function, so the stream's semantics ARE "the sequential-batch fold",
  * which is what IngestPipelineSpec pins (stream == the same fold driven
  * by hand, plus the per-batch accounting identity ingested = dup_index +
  * dup_batch + gated + appended). The verdict core is the PURE
  * [[classifyBatch]], which is also what the declared oracle query q177
  * replays CTE-by-CTE in DuckDB — the fold semantics are hash-checked,
  * not just spec-pinned.
  *
  * Same-id re-arrivals are NOT duplicates: the band join filters self-id
  * matches and [[Curation.upsertByKey]] replaces the old row — re-crawl
  * semantics, consistent with the living-table contract.
  *
  * Scale posture (round 17 — the round-16 seam closed): the index is a
  * (band, key)-bucketed store, the batch's band rows are computed once and
  * BROADCAST into the candidate join, and the index side is read
  * partition-PRUNED to the buckets the batch touches — no full-index
  * shuffle anywhere in the per-batch plan, so per-batch cost is
  * (touched buckets × bucket size) + batch, flat in stream lifetime.
  * Single-writer like every living-table mutation (foreachBatch serializes
  * batches naturally); the corpus fetch, upsert, and stats merge are all
  * bounded by batch size × touched buckets, never corpus size.
  */
object IngestPipeline {

  /** Ingest configuration. `qualityWeights` is the
    * [[QualityClassifier.Dims]]-sized trained weight vector; docs scoring
    * below `qualityThreshold` (on the r4-rounded sigmoid `p`) are gated.
    * `numBuckets` buckets the CORPUS by doc_id; `indexBuckets` buckets the
    * band INDEX by (band, key) — size it so one bucket is a comfortable
    * pruned read (index rows ≈ 3× corpus docs at the default banding).
    * `maintainEvery` > 0 runs the living-table maintenance (ledger +
    * index + corpus small-file compaction, buckets over
    * `maintainMaxFiles` data files) between batches every that many
    * committed batches — see the cadence note in [[processBatch]].
    */
  final case class Config(
      corpusPath: String,
      indexPath: String,
      statsPath: String,
      qualityWeights: Array[Double],
      qualityThreshold: Double = 0.5,
      numBuckets: Int = 64,
      lsh: MinHashLSH = MinHashLSH(),
      jaccardThreshold: Double = 0.8,
      maxBucket: Int = 0,
      indexBuckets: Int = 64,
      maintainEvery: Int = 0,
      maintainMaxFiles: Int = 8) {
    /** The replay-fence ledger (one row per committed batch id). */
    def ledgerPath: String = statsPath + "_ledger"
  }

  /** Per-batch accounting: `ingested = dupIndex + dupBatch + gated +
    * appended` (disjoint by construction — index dups are removed before
    * intra-batch pairing, gating applies to the dedup survivors).
    */
  final case class BatchReport(
      batchId: Long,
      ingested: Long,
      dupIndex: Long,
      dupBatch: Long,
      gated: Long,
      appended: Long)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The texts of `ids` (a small frame with column `id`) from the bucketed
    * corpus — partition-PRUNED: only the buckets the ids hash into are
    * read, so the fetch costs (matched buckets × bucket size), never the
    * table (the [[Curation.upsertByKey]] read pattern applied to lookup).
    */
  private def corpusTexts(
      spark: SparkSession, cfg: Config, ids: DataFrame): DataFrame = {
    import spark.implicits._
    val buckets = ids
      .select(Curation.bucketOf(col("id"), cfg.numBuckets).as("b"))
      .distinct().as[Int].collect().toSeq
    if (buckets.isEmpty)
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    else
      spark.read.parquet(cfg.corpusPath)
        .filter(col("__bucket").isin(buckets: _*))
        .join(ids.select(col("id").as("doc_id")), "doc_id")
        .select(col("doc_id"), col("text"))
  }

  /** Per-document ingest verdicts for ONE micro-batch — the PURE core of
    * the fold, shared verbatim by [[processBatch]] (which adds the
    * replay fence and the artifact mutations) and by the declared oracle
    * query q177 (which replays this exact function against a DuckDB CTE
    * chain). Returns `(doc_id, verdict)` with verdict ∈ `dup_index` |
    * `dup_batch` | `gated` | `appended` — one row per batch doc, the four
    * classes disjoint by construction (index dups removed before
    * intra-batch pairing; gating applies to dedup survivors).
    *
    * `batch` must carry (doc_id, text, n_chars) — the feature columns the
    * quality gate reads; extra columns pass through untouched.
    *
    * `index`: `None` = no index exists yet (every doc skips straight to
    * intra-batch dedup). `Some(prunedRead)` receives the batch's
    * ALREADY-MATERIALIZED band rows and returns the index rows they could
    * join — [[LshIndexStore.readPrunedFor]] for the bucketed store, or a
    * constant in-plan frame for bounded/oracle forms. The batch band rows
    * are computed ONCE here (localCheckpoint — bounded by batch × bands)
    * and feed both the pruned read's bucket derivation and the join, and
    * the batch side is BROADCAST into the candidate join: a micro-batch
    * is bounded by the trigger while the index side is not, so the
    * (pruned) index subset streams through a hash join without being
    * shuffled. Callers whose "batch" is corpus-sized should use
    * [[MinHashLSH.candidatesAgainstIndex]] directly instead.
    *
    * `corpusTextsOf` maps a small frame of matched index ids (column
    * `id`) to their (doc_id, text) rows — the pruned corpus fetch in
    * production, a plain frame lookup in bounded forms.
    *
    * `parityRound` applies the repo's r4 grid to the Jaccard threshold
    * compare (floor(j·1e4+0.5)/1e4 ≥ τ — the q63/q66 oracle convention,
    * so DuckDB and Spark agree when |∩|/|∪| lands exactly on a half-ulp
    * boundary). The production fold keeps the raw compare (default).
    */
  def classifyBatch(
      batch: DataFrame,
      index: Option[DataFrame => DataFrame],
      corpusTextsOf: DataFrame => DataFrame,
      lsh: MinHashLSH,
      jaccardThreshold: Double,
      qualityWeights: Array[Double],
      qualityThreshold: Double,
      maxBucket: Int = 0,
      parityRound: Boolean = false): DataFrame = {
    val jc =
      if (parityRound) graft.queries.Parity.r4(col("jaccard"))
      else col("jaccard")

    // 1. verified dedup against the index (skipped before one exists)
    val dupIdxIds = index match {
      case None =>
        batch.select(col("doc_id")).limit(0)
      case Some(prunedRead) =>
        // band rows once: bucket derivation + join both read them
        val batchBands = lsh.bandIndex(batch, "doc_id", "text")
          .localCheckpoint(true)
        val idx = prunedRead(batchBands)
        val cand = lsh
          .candidatesFromBands(broadcast(batchBands), idx, maxBucket)
          .distinct()
        // batch text WINS over corpus text for ids present in both: a
        // re-crawled id's candidates must verify against the text the
        // corpus will hold AFTER this batch, not the stale row — else a
        // stale-text match silently drops the revision as a duplicate.
        // Known residual edge, accepted: if the re-crawl is ITSELF dropped
        // later this batch (dup or gated), another doc that verified
        // against its NEW text was judged against text the corpus never
        // holds — the converse (stale-wins) loses REVISIONS outright,
        // which is the worse failure; exactness here needs a second
        // verification pass over the batch's final survivor set
        val texts = corpusTextsOf(
            cand.select(col("index_id").as("id")).distinct())
          .join(batch.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(batch.select(col("doc_id"), col("text")))
        // materialized once (tiny id frame): it is read twice — the
        // afterIdx anti-join and the final verdict join — and without the
        // checkpoint each reader re-runs the whole candidate+verify DAG
        // texts is bounded by matched ids + the batch (the doc above), so
        // it broadcasts into both verify joins — the same batch-bounded
        // posture as the candidate join's broadcast(batchBands)
        lsh.verifyJaccard(
            cand.select(col("new_id").as("id_a"), col("index_id").as("id_b")),
            broadcast(texts), "doc_id", "text")
          .filter(jc >= jaccardThreshold)
          .select(col("id_a").as("doc_id")).distinct()
          .localCheckpoint(true)
    }
    // Broadcast hints on every bounded frame below (dup ids, keep ids, the
    // batch-derived verify sets): the checkpointed frames are LogicalRDDs
    // with NO size statistics, so Catalyst defaults them to
    // defaultSizeInBytes and plans sort-merge joins — measured on q177,
    // the fold ran 50 AQE stage-jobs of which most were exchanges for
    // joins whose one side is at most the micro-batch. Every hinted side
    // is ≤ batch size by construction (ids or shingle sets of batch docs),
    // the documented bounded-micro-batch posture.
    // with no index the anti-join is against a statically-empty frame —
    // afterIdx IS the batch, and a checkpoint would only buy a copy
    val antiIdx = batch.join(broadcast(dupIdxIds), Seq("doc_id"), "left_anti")
    val afterIdx = if (index.isEmpty) antiIdx else antiIdx.localCheckpoint(true)

    // 2. verified intra-batch dedup, keep-first: drop every id with a
    // verified smaller-id partner (candidatePairs emits id_a < id_b).
    // repOverCap: over-cap batch buckets pair against their min-id
    // representative instead of vanishing — without it a mass arrival of
    // NEW duplicates (more copies than the cap, none indexed yet) would
    // sail through intra-batch dedup entirely
    // same two-reader materialization as dupIdxIds (clean + final verdict
    // join); `clean` itself then derives from two checkpointed frames by
    // one tiny anti-join, cheap to recompute, so it no longer checkpoints
    val dupBatchIds = lsh
      .verifyJaccard(
        lsh.candidatePairs(afterIdx, "doc_id", "text", maxBucket,
          repOverCap = true),
        broadcast(afterIdx), "doc_id", "text")
      .filter(jc >= jaccardThreshold)
      .select(col("id_b").as("doc_id")).distinct()
      .localCheckpoint(true)
    val clean = afterIdx.join(broadcast(dupBatchIds), Seq("doc_id"), "left_anti")

    // 3. quality gate on the r4-rounded sigmoid score — the fused
    // single-pass scorer (round 18): the long-form features frame ran
    // three exchanges and re-derived `clean` (itself an anti-join of two
    // checkpointed frames) once per union arm, FOUR times per gate;
    // scoreDocs is one scan + at most one batch-bounded aggregate
    // (spec-pinned equal to score(features(clean), w))
    val keepIds = QualityClassifier
      .scoreDocs(clean, qualityWeights, broadcastCounts = true)
      .filter(col("p") >= qualityThreshold)
      .select(col("doc_id"))

    batch.select(col("doc_id"))
      .join(broadcast(dupIdxIds.select(col("doc_id"), lit(1).as("di"))), Seq("doc_id"), "left")
      .join(broadcast(dupBatchIds.select(col("doc_id"), lit(1).as("db"))), Seq("doc_id"), "left")
      .join(broadcast(keepIds.select(col("doc_id"), lit(1).as("kp"))), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("di") === 1, "dup_index")
          .when(col("db") === 1, "dup_batch")
          .when(col("kp") === 1, "appended")
          .otherwise("gated").as("verdict"))
  }

  private val ledgerSchema = StructType(
    Seq("batch_id", "ingested", "dup_index", "dup_batch", "gated", "appended")
      .map(n => StructField(n, LongType)))

  /** One fold step — the exact function `foreachBatch` runs, callable
    * directly for the batch twin (IngestPipelineSpec drives it by hand to
    * pin stream == fold). The batch must carry (doc_id, text, source,
    * lang, n_chars).
    */
  def processBatch(
      spark: SparkSession, batch: DataFrame, cfg: Config,
      batchId: Long): BatchReport = {
    import spark.implicits._
    // REPLAY FENCE: foreachBatch is at-least-once — after a crash the
    // last uncommitted batch re-runs, and none of the three artifact
    // mutations is naturally idempotent (index append would duplicate
    // band rows; the stats XOR checksum would cancel the batch out). The
    // ledger records each batch id AFTER its mutations, so a replay of a
    // COMMITTED batch returns its recorded report without re-mutating.
    // Honest residual window: a crash INSIDE the mutation sequence
    // (corpus written, ledger not) still replays the mutations — plain
    // parquet has no atomic multi-table commit; that is what table
    // formats add on top of exactly this pattern. The per-batch read is
    // schema-EXPLICIT (no inference) so a ledger directory left behind by
    // a crash during the very first write — zero readable rows — reads
    // as absent instead of wedging the stream on an undiagnostic
    // inference error (round-16 ADVICE); the growing listing cost is
    // bounded by [[compactLedger]] on the corpus-compaction cadence.
    val replayed =
      if (!exists(spark, cfg.ledgerPath)) None
      else {
        val rows = spark.read.schema(ledgerSchema).parquet(cfg.ledgerPath)
          .as[(Long, Long, Long, Long, Long, Long)].collect()
        if (rows.isEmpty) None // crashed mid-first-write: nothing committed
        else {
          val maxId = rows.iterator.map(_._1).max
          // a GENUINE foreachBatch replay can only be the LAST committed
          // batch (delivery is in-order; only the newest uncommitted batch
          // re-runs after a crash). A batchId BELOW the ledger's max means
          // the stream's checkpoint does not match these artifacts — the
          // classic "reset the checkpoint, keep the tables" mistake — and
          // treating it as a replay would SILENTLY swallow the new data:
          // refuse loudly instead.
          require(batchId >= maxId,
            s"ingest ledger at ${cfg.ledgerPath} already holds batches up to " +
              s"$maxId but this stream delivered batch $batchId — the " +
              "checkpointLocation does not match these artifacts (was it " +
              "reset?); refusing to treat new data as a replay. Restart from " +
              "the original checkpoint, or point at fresh artifact paths")
          rows.find(_._1 == batchId)
        }
      }
    replayed match {
      case Some((id, in, di, db, g, ap)) => BatchReport(id, in, di, db, g, ap)
      case None =>
        val report = foldBatch(spark, batch, cfg, batchId)
        // MAINTENANCE CADENCE (round 17): every maintainEvery committed
        // batches, fold the per-batch append files back down — the index
        // append writes one file per touched bucket per batch, so without
        // compaction the pruned read opens batches×buckets files and the
        // per-batch wall drifts up with file count (measured +23% over 10
        // batches at 1M docs). Runs AFTER the fence commit, between
        // batches (foreachBatch's serialization makes this the
        // single-writer window the living-table contract names), and only
        // on a genuine fold — a replayed batch skips it (content-
        // preserving either way, so the skip is an economy, not a
        // correctness need). Crash posture: same as running the
        // compactors manually on the corpus cadence — per-bucket
        // overwrite is not multi-file-atomic; a table format adds that.
        if (cfg.maintainEvery > 0 && (batchId + 1) % cfg.maintainEvery == 0) {
          compactLedger(spark, cfg)
          // either store may not exist yet (no batch has appended a doc)
          if (exists(spark, cfg.indexPath))
            LshIndexStore.compact(spark, cfg.indexPath, cfg.maintainMaxFiles)
          if (exists(spark, cfg.corpusPath))
            Curation.compactBuckets(spark, cfg.corpusPath, cfg.maintainMaxFiles)
        }
        report
    }
  }

  /** Rewrite the replay-fence ledger as one file — the compaction the
    * fence's per-batch full read assumes (each committed batch appends a
    * tiny file; after thousands of batches the listing dominates the
    * read). Content-preserving; run it BETWEEN batches (single-writer,
    * like every living-table mutation — foreachBatch's serialization
    * makes "between batches" the natural cadence, e.g. alongside
    * [[graft.queries.Curation.compactBuckets]]).
    */
  def compactLedger(spark: SparkSession, cfg: Config): Unit = {
    if (!exists(spark, cfg.ledgerPath)) return
    val rows = spark.read.schema(ledgerSchema).parquet(cfg.ledgerPath)
      .localCheckpoint(true) // sever the scan before overwriting its files
    rows.coalesce(1).write.mode("overwrite").parquet(cfg.ledgerPath)
  }

  /** The unfenced fold body — every artifact mutation lives here. */
  private def foldBatch(
      spark: SparkSession, batch: DataFrame, cfg: Config,
      batchId: Long): BatchReport = {
    import spark.implicits._
    // one bounded materialization: every stage below reuses it, and the
    // counts the report needs must not recompute a streaming source
    val docs = batch
      .select(col("doc_id"), col("text"), col("source"), col("lang"),
        col("n_chars"))
      .localCheckpoint(true)

    val index =
      if (!exists(spark, cfg.indexPath)) None
      else Some((bands: DataFrame) =>
        LshIndexStore.readPrunedFor(spark, cfg.indexPath, bands,
          cfg.indexBuckets))
    val verdicts = classifyBatch(
        docs, index, ids => corpusTexts(spark, cfg, ids),
        cfg.lsh, cfg.jaccardThreshold, cfg.qualityWeights,
        cfg.qualityThreshold, cfg.maxBucket)
      .localCheckpoint(true)
    val byVerdict = verdicts.groupBy(col("verdict")).count()
      .as[(String, Long)].collect().toMap
    def n(v: String): Long = byVerdict.getOrElse(v, 0L)
    val nKept = n("appended")
    val kept = docs
      .join(verdicts.filter(col("verdict") === "appended").select("doc_id"),
        "doc_id")
      .localCheckpoint(true)

    // 4. the three living artifacts — corpus upsert (bootstrap on first
    // batch), index append, stats merge. Order matters: the index must
    // only ever reference docs the corpus holds (verification reads their
    // texts back), so the corpus write goes first.
    if (nKept > 0) {
      if (!exists(spark, cfg.corpusPath)) {
        // same duplicate-key contract as upsertByKey (round-16 ADVICE):
        // without it, two same-id rows in batch 0 — self-id pairs are
        // never intra-batch candidates — would silently seed a
        // duplicate-key corpus that only LATER batches' upserts reject
        Curation.requireUniqueKeys(kept, "doc_id")
        Curation.writeBucketed(kept, cfg.corpusPath, "doc_id", cfg.numBuckets)
      } else
        Curation.upsertByKey(spark, cfg.corpusPath, kept, "doc_id", cfg.numBuckets)
      LshIndexStore.append(
        cfg.lsh.bandIndex(kept, "doc_id", "text"), cfg.indexPath,
        cfg.indexBuckets)
      Curation.mergeDocStats(spark, cfg.statsPath, kept)
    }
    // byVerdict holds every group's count, the null group included, so its
    // sum is the batch size without a second job over `verdicts`
    val report = BatchReport(
      batchId, byVerdict.values.sum, n("dup_index"), n("dup_batch"), n("gated"),
      nKept)
    // commit the fence LAST (see the replay note above); zero-kept batches
    // are fenced too — their report must replay stably
    Seq((report.batchId, report.ingested, report.dupIndex, report.dupBatch,
        report.gated, report.appended))
      .toDF("batch_id", "ingested", "dup_index", "dup_batch", "gated", "appended")
      .coalesce(1).write.mode("append").parquet(cfg.ledgerPath)
    report
  }

  /** The streaming entry: `foreachBatch` over [[processBatch]], reports
    * delivered to `onReport` in batch order (single-writer by
    * construction). Start with a checkpointLocation so restarts resume at
    * the right batch; delivery is foreachBatch's at-least-once, with the
    * batch-id ledger making replays of COMMITTED batches no-ops (see the
    * replay-fence note in [[processBatch]] for the residual window).
    */
  def stream(
      docs: DataFrame, cfg: Config)(
      onReport: BatchReport => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      onReport(processBatch(b.sparkSession, b, cfg, id))
    }
}
