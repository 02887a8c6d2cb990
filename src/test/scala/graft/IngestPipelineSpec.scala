package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.{BatchReport, Config}

/** The document shape the composed ingest folds over. */
final case class IngestDoc(
    doc_id: Long, text: String, source: String, lang: String, n_chars: Int)

/** Pins for the COMPOSED streaming ingest (round 16): per-batch accounting
  * is an identity, the artifacts fold correctly across batches (batch N+1
  * dedups against what batch N kept), and the streaming execution equals
  * the hand-driven sequential-batch fold — the composition's semantic IS
  * the fold, so stream == fold is the streaming twin of the batch
  * pipeline capstone's invariants.
  */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  // weights: slot 16 is r4(ln(n_chars/300)) — weight 1 there, 0 elsewhere,
  // makes the quality gate a deterministic length rule: pass iff
  // n_chars >= 300 (p = sigmoid(ln(n/300)) >= 0.5 iff n >= 300)
  private val lengthGateWeights: Array[Double] =
    Array.tabulate(19)(i => if (i == 16) 1.0 else 0.0)

  // 60-word texts from disjoint vocabularies; near-dup twins differ in the
  // single trailing word (3-word shingles: J = 55/61 ≈ 0.90 >= 0.8)
  private def longText(stem: String): String =
    (1 to 60).map(i => s"$stem$i").mkString(" ")
  private def nearDup(stem: String): String =
    (1 to 59).map(i => s"$stem$i").mkString(" ") + " changedtail"

  private def doc(id: Long, text: String, source: String = "web",
      lang: String = "en"): IngestDoc =
    IngestDoc(id, text, source, lang, text.length)

  private val batch1 = Seq(
    doc(1, longText("alpha")), // appended
    doc(2, longText("bravo"), source = "books"), // appended
    doc(3, nearDup("alpha")), // intra-batch near-dup of 1 -> dropped
    doc(4, "tiny doc")) // unique but short -> quality-gated
  private val batch2 = Seq(
    doc(5, nearDup("alpha")), // near-dup of INDEXED doc 1 -> dupIndex
    doc(6, longText("delta")), // appended
    doc(7, nearDup("delta")), // intra-batch near-dup of 6 -> dropped
    doc(8, "also short")) // quality-gated

  private def cfg(root: String): Config = Config(
    corpusPath = s"$root/corpus", indexPath = s"$root/index",
    statsPath = s"$root/stats", qualityWeights = lengthGateWeights,
    numBuckets = 8)

  private def foldByHand(root: String): Seq[BatchReport] =
    Seq(batch1, batch2).zipWithIndex.map { case (b, i) =>
      IngestPipeline.processBatch(spark, b.toDF(), cfg(root), i.toLong)
    }

  private def corpusRows(root: String): Set[(Long, String, String, String, Int)] =
    spark.read.parquet(s"$root/corpus")
      .select(col("doc_id"), col("text"), col("source"), col("lang"),
        col("n_chars"))
      .as[(Long, String, String, String, Int)].collect().toSet

  test("fold accounting: ingested = dupIndex + dupBatch + gated + appended, batch over batch") {
    val root = java.nio.file.Files.createTempDirectory("ingest_fold").toString
    val reports = foldByHand(root)
    assert(reports(0) === BatchReport(0, 4, 0, 1, 1, 2), reports(0).toString)
    assert(reports(1) === BatchReport(1, 4, 1, 1, 1, 1), reports(1).toString)
    reports.foreach { r =>
      assert(r.ingested == r.dupIndex + r.dupBatch + r.gated + r.appended)
    }
    // the living corpus holds exactly the appended docs
    assert(corpusRows(root).map(_._1) == Set(1L, 2L, 6L))
    // the index references exactly the corpus (band rows only for kept ids)
    val idxIds = spark.read.parquet(s"$root/index")
      .select(col("id")).distinct().as[Long].collect().toSet
    assert(idxIds == Set(1L, 2L, 6L))
    // stats fold: per-(source, lang) counts equal a from-scratch recompute
    // over the final corpus (the mergeability contract, through the stream)
    val stats = spark.read.parquet(s"$root/stats")
      .select(col("source"), col("lang"), col("n_docs"), col("sum_chars"))
      .as[(String, String, Long, Long)].collect().toSet
    val expect = corpusRows(root).groupBy(r => (r._3, r._4)).map {
      case ((s, l), rows) => (s, l, rows.size.toLong, rows.toSeq.map(_._5.toLong).sum)
    }.toSet
    assert(stats == expect)
  }

  test("same-id re-arrival is an upsert, not a duplicate") {
    val root = java.nio.file.Files.createTempDirectory("ingest_upd").toString
    val c = cfg(root)
    IngestPipeline.processBatch(spark, Seq(doc(1, longText("alpha"))).toDF(), c, 0L)
    // the re-crawl: same id, revised long text (NOT a near-dup of itself
    // textually — different vocabulary — so only the same-id path applies)
    val r = IngestPipeline.processBatch(
      spark, Seq(doc(1, longText("revised"))).toDF(), c, 1L)
    assert(r === BatchReport(1, 1, 0, 0, 0, 1), r.toString)
    val rows = corpusRows(root)
    assert(rows.size == 1 && rows.head._2 == longText("revised"))
  }

  test("replay fence: re-running a committed batch id returns its report without re-mutating") {
    val root = java.nio.file.Files.createTempDirectory("ingest_replay").toString
    val c = cfg(root)
    val r0 = IngestPipeline.processBatch(spark, batch1.toDF(), c, 0L)
    val corpusBefore = corpusRows(root)
    val statsBefore = spark.read.parquet(s"$root/stats").collect().toSeq.toString
    val idxBefore = spark.read.parquet(s"$root/index").count()
    // the at-least-once replay (crash after commit, before checkpoint)
    val rReplay = IngestPipeline.processBatch(spark, batch1.toDF(), c, 0L)
    assert(rReplay === r0)
    assert(corpusRows(root) == corpusBefore)
    assert(spark.read.parquet(s"$root/index").count() == idxBefore,
      "index must not gain duplicate band rows on replay")
    assert(spark.read.parquet(s"$root/stats").collect().toSeq.toString == statsBefore,
      "stats must not double-count on replay")
    // a batch id BELOW the ledger's max is NOT a legal replay (foreachBatch
    // only ever re-delivers the last uncommitted batch): it means the
    // checkpoint was reset against live artifacts — refuse loudly instead
    // of silently swallowing the new data as "already processed"
    IngestPipeline.processBatch(spark, batch2.toDF(), c, 1L)
    val eReset = intercept[IllegalArgumentException] {
      IngestPipeline.processBatch(spark, batch1.toDF(), c, 0L)
    }
    assert(eReset.getMessage.contains("checkpoint"), eReset.getMessage)
  }

  test("mass replay beyond the bucket cap still dedups (index star + intra-batch star)") {
    val root = java.nio.file.Files.createTempDirectory("ingest_mass").toString
    // cap of 4 so the 12-copy flood is far over it
    val c = cfg(root).copy(maxBucket = 4)
    val r0 = IngestPipeline.processBatch(
      spark, Seq(doc(1, longText("alpha"))).toDF(), c, 0L)
    assert(r0.appended == 1)
    // 12 exact copies of the INDEXED text arrive in one batch: every band
    // bucket of the copies is over the cap; the index-side representative
    // star plus the intra-batch repOverCap star must still kill them all
    val flood = (100L to 111L).map(i => doc(i, longText("alpha")))
    val r1 = IngestPipeline.processBatch(spark, flood.toDF(), c, 1L)
    assert(r1.appended == 0 && r1.dupIndex + r1.dupBatch == 12, r1.toString)
    assert(corpusRows(root).map(_._1) == Set(1L))
    // and a flood of NEW duplicates (nothing indexed) keeps exactly one
    val flood2 = (200L to 211L).map(i => doc(i, longText("omega")))
    val r2 = IngestPipeline.processBatch(spark, flood2.toDF(), c, 2L)
    assert(r2.appended == 1 && r2.dupBatch == 11, r2.toString)
    assert(corpusRows(root).map(_._1) == Set(1L, 200L))
  }

  test("bucketed index store: pruned read sees exactly what a full read would join") {
    val root = java.nio.file.Files.createTempDirectory("ingest_store").toString
    val c = cfg(root).copy(indexBuckets = 16)
    Seq(batch1, batch2).zipWithIndex.foreach { case (b, i) =>
      IngestPipeline.processBatch(spark, b.toDF(), c, i.toLong)
    }
    val store = spark.read.parquet(s"$root/index")
    // layout: every row's partition value re-derives from its (band, key)
    val mismatch = store.filter(col("__bucket") =!=
      graft.operators.LshIndexStore.bucketOf(col("band"), col("key"), 16))
    assert(mismatch.count() == 0L, "a row landed outside its (band,key) bucket")
    // pruned-read contract: for a probe batch, candidates from the pruned
    // read equal candidates from the full store
    val probe = Seq(doc(50, nearDup("bravo")), doc(51, longText("zulu"))).toDF()
    val lsh = c.lsh
    val bands = lsh.bandIndex(probe, "doc_id", "text").localCheckpoint(true)
    val pruned = graft.operators.LshIndexStore
      .readPrunedFor(spark, s"$root/index", bands, 16)
    val full = graft.operators.LshIndexStore.readAll(spark, s"$root/index")
    val candOf = (idx: org.apache.spark.sql.DataFrame) =>
      lsh.candidatesFromBands(bands, idx)
        .select(col("new_id"), col("index_id"))
        .as[(Long, Long)].collect().toSet
    assert(candOf(pruned) == candOf(full))
    assert(candOf(pruned).contains((50L, 2L)), "near-dup of indexed doc 2 must surface")
    // and the pruning is real: the probe touches fewer buckets than exist
    val touched = bands.select(
      graft.operators.LshIndexStore.bucketOf(col("band"), col("key"), 16).as("b"))
      .distinct().count()
    assert(touched < 16, s"probe touched all $touched buckets — pruning untestable")
  }

  test("bootstrap batch with duplicate doc_ids fails the same typed way upsert does") {
    val root = java.nio.file.Files.createTempDirectory("ingest_dupkey").toString
    val c = cfg(root)
    // same id, two non-near-dup long texts: neither intra-batch dedup (self-id
    // pairs are never candidates) nor the gate drops one — the write must refuse
    val bad = Seq(doc(1, longText("alpha")), doc(1, longText("bravo")))
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.processBatch(spark, bad.toDF(), c, 0L)
    }
    assert(e.getMessage.contains("duplicate 'doc_id'"), e.getMessage)
  }

  test("ledger: empty directory reads as absent; compaction preserves the fence") {
    val root = java.nio.file.Files.createTempDirectory("ingest_ledger").toString
    val c = cfg(root)
    // a crash during the very first ledger write leaves the directory with
    // no readable rows — the next batch must fold normally, not wedge
    new java.io.File(c.ledgerPath).mkdirs()
    val r0 = IngestPipeline.processBatch(spark, batch1.toDF(), c, 0L)
    assert(r0.ingested == 4)
    IngestPipeline.processBatch(spark, batch2.toDF(), c, 1L)
    // compact between batches: content-preserving, single file
    IngestPipeline.compactLedger(spark, c)
    val files = new java.io.File(c.ledgerPath).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 ledger file after compaction, got $files")
    // the fence still works off the compacted ledger: a replay of the last
    // committed batch returns its report without re-mutating...
    val corpusBefore = corpusRows(root)
    val idxBefore = spark.read.parquet(s"$root/index").count()
    val rReplay = IngestPipeline.processBatch(spark, batch2.toDF(), c, 1L)
    assert(rReplay.batchId == 1L && corpusRows(root) == corpusBefore)
    assert(spark.read.parquet(s"$root/index").count() == idxBefore)
    // ...and the checkpoint-reset refusal still fires
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.processBatch(spark, batch1.toDF(), c, 0L)
    }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
  }

  test("maintenance cadence: artifacts byte-equal to the uncompacted fold, files folded, fence intact") {
    val rootA = java.nio.file.Files.createTempDirectory("ingest_maintain").toString
    val rootB = java.nio.file.Files.createTempDirectory("ingest_nomaint").toString
    // cadence fires after batch 1 commits ((1+1) % 2 == 0); threshold 1
    // forces a real rewrite of every multi-file bucket
    val cA = cfg(rootA).copy(maintainEvery = 2, maintainMaxFiles = 1)
    val cB = cfg(rootB)
    val reportsA = Seq(batch1, batch2).zipWithIndex.map { case (b, i) =>
      IngestPipeline.processBatch(spark, b.toDF(), cA, i.toLong) }
    val reportsB = Seq(batch1, batch2).zipWithIndex.map { case (b, i) =>
      IngestPipeline.processBatch(spark, b.toDF(), cB, i.toLong) }
    assert(reportsA == reportsB)
    // compaction is content-preserving across all three artifacts
    assert(corpusRows(rootA) == corpusRows(rootB))
    def idxRows(r: String): Set[String] =
      graft.operators.LshIndexStore.readAll(spark, s"$r/index")
        .select(col("id"), col("band"), col("key"))
        .collect().map(_.toString).toSet
    assert(idxRows(rootA) == idxRows(rootB))
    // the physical fold really happened: ledger is one file, and no
    // index/corpus bucket holds more than maintainMaxFiles data files
    def dataFiles(d: java.io.File): Int =
      d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles(new java.io.File(cA.ledgerPath)) == 1)
    for (store <- Seq("index", "corpus");
         b <- new java.io.File(s"$rootA/$store").listFiles()
           if b.isDirectory && b.getName.startsWith("__bucket="))
      assert(dataFiles(b) <= 1, s"$store/${b.getName}: ${dataFiles(b)} files")
    // the replay fence still reads the compacted ledger: replaying the
    // last committed batch returns its report without re-mutating
    val before = corpusRows(rootA)
    val replay = IngestPipeline.processBatch(spark, batch2.toDF(), cA, 1L)
    assert(replay == reportsA.last && corpusRows(rootA) == before)
  }

  test("stream (foreachBatch) == the hand-driven fold: reports and artifacts") {
    val sRoot = java.nio.file.Files.createTempDirectory("ingest_stream").toString
    val hRoot = java.nio.file.Files.createTempDirectory("ingest_hand").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[BatchReport]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[IngestDoc]
    val q = IngestPipeline.stream(input.toDF(), cfg(sRoot))(r => got.synchronized {
        got += r
      })
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val hand = foldByHand(hRoot)
    assert(got.sortBy(_.batchId).toSeq == hand, s"stream $got vs fold $hand")
    assert(corpusRows(sRoot) == corpusRows(hRoot))
    val statsOf = (root: String) => spark.read.parquet(s"$root/stats")
      .select(col("source"), col("lang"), col("n_docs"), col("sum_chars"),
        col("checksum"))
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(statsOf(sRoot) == statsOf(hRoot))
  }
}
