package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Scale-rehearsal tooling: the testdata tops out at sf0.1 (5k docs,
  * 1.5 MB of text), so [[ScaleDataGen]] synthesizes a documents /
  * embeddings / events slice 1-2 orders of magnitude past it (same
  * schemas, same word-soup shape, deterministic), and [[ScaleRehearsal]]
  * runs named declared queries over it with per-query shuffle-write /
  * spill / peak-memory counters from [[StageMetrics]]. Findings land in
  * BASELINE.md.
  *
  * Usage:
  * {{{
  *   runMain graft.tools.ScaleDataGen /tmp/graft_scale/sf2 1000000 400000 10000000
  *   SPARK_GRAFT_CPUS=32 runMain graft.tools.ScaleRehearsal \
  *     /tmp/graft_scale/sf2 q100_dup_spans q105_dup_excise ...
  * }}}
  */
object ScaleDataGen {

  // same flavor as the driver's word-soup corpus: a small content
  // vocabulary so grams/tokens collide realistically across documents
  private val vocab: Array[String] = Array(
    "spark", "join", "stream", "batch", "table", "column", "row", "scan",
    "filter", "group", "agg", "sort", "hash", "merge", "window", "key",
    "value", "query", "part", "line", "order", "data", "fast", "slow",
    "big", "small", "vector", "index", "cache", "shuffle")

  /** ~200 deterministic boilerplate sentences (10 words each) — the
    * cross-document duplicated material that drives MinHash buckets and
    * duplicated-substring spans, like real web boilerplate.
    */
  private def phrases: Array[String] = {
    val rng = new scala.util.Random(7L)
    Array.fill(200)((0 until 10)
      .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: ScaleDataGen <outDir> [nDocs] [nVecs] [nEvents]")
    val spark = graft.LocalSession("ScaleDataGen")
    try {
      val outDir = args(0)
      val nDocs = if (args.length > 1) args(1).toLong else 500000L
      val nVecs = if (args.length > 2) args(2).toLong else 200000L
      val nEvents = if (args.length > 3) args(3).toLong else 0L
      generate(spark, outDir, nDocs, nVecs, nEvents)
      println(s"""{"outDir":"$outDir","nDocs":$nDocs,"nVecs":$nVecs,"nEvents":$nEvents}""")
    } finally spark.stop()
  }

  /** Writes `documents.parquet` (`nDocs` rows), `embeddings.parquet`
    * (`nVecs`) and, when `nEvents > 0`, `events.parquet` under `outDir`,
    * replacing what is there. The rows depend only on the counts. */
  def generate(spark: SparkSession, outDir: String,
      nDocs: Long, nVecs: Long, nEvents: Long): Unit = {
    import spark.implicits._
    val ph = phrases
    val vb = vocab
    val langs = Array("en", "en", "en", "en", "en", "en", "fr", "de", "zh", "es")

    // documents: deterministic text from a CONTENT id — 1 in 17 docs
    // replays an earlier doc's content (exact-dup groups for q17/q44), 1 in
    // 12 words is a 10-word boilerplate phrase (near-dup + substring-dup
    // material), ~1% of docs are 12k+ chars (exercises segmented
    // winnowing far past the old 4095-char cap at scale)
    spark.range(nDocs).mapPartitions { it =>
      it.map { jid =>
        val id: Long = jid // range yields boxed java.lang.Long in closures
        val contentId: Long =
          if (id % 17 == 0 && id >= 97) id - (id % 97) else id
        val rng = new scala.util.Random(contentId * 0x9E3779B97L + 42L)
        val nWords =
          if (contentId % 101 == 0) 2000 + rng.nextInt(800)
          else 40 + rng.nextInt(60)
        val sb = new StringBuilder
        var w = 0
        while (w < nWords) {
          if (rng.nextInt(12) == 0) {
            sb.append(ph(rng.nextInt(ph.length))); w += 10
          } else {
            sb.append(vb(rng.nextInt(vb.length))); w += 1
          }
          if (w < nWords) sb.append(' ')
        }
        val text = sb.toString
        (id, text, langs(rng.nextInt(langs.length)),
          s"src${rng.nextInt(20)}", text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings: 64-dim, 64 cluster centers (SemDeDup shape); every 11th
    // vector is a near-duplicate of its predecessor (tiny perturbation)
    spark.range(nVecs).mapPartitions { it =>
      it.map { jid =>
        val id: Long = jid
        val base: Long = if (id % 11 == 0 && id > 0) id - 1 else id
        val cluster = (base % 64).toInt
        val crng = new scala.util.Random(1000L + cluster)
        val center = Array.fill(64)(crng.nextGaussian().toFloat)
        val vrng = new scala.util.Random(base * 0x9E3779B97L + 7L)
        val v = Array.tabulate(64)(i =>
          center(i) + 0.08f * vrng.nextGaussian().toFloat)
        val out =
          if (base == id) v
          else {
            val prng = new scala.util.Random(id * 31L + 5L)
            Array.tabulate(64)(i => v(i) + 0.002f * prng.nextGaussian().toFloat)
          }
        (id, out, cluster)
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: interaction log for the chat-SFT family (q155–q157) —
    // per-user streams generated in one closure each (user cardinality
    // scales with nEvents, per-user history stays ~2000 events, matching
    // the bounded-window posture the queries rely on). Gap mix: ~70%
    // 1–20 min (same session), ~30% 31–120 min (new 30-min-gap session).
    if (nEvents > 0) {
      val nUsers = math.max(nEvents / 2000L, 64L)
      val perUser = (nEvents + nUsers - 1) / nUsers
      val types = Array("view", "click", "purchase", "signup", "error")
      spark.range(nUsers).flatMap { uid0 =>
        val uid: Long = uid0
        val rng = new scala.util.Random(uid * 0x9E3779B97L + 99L)
        var tsUs = 1704067200000000L + rng.nextInt(3600000).toLong * 1000L
        (0L until perUser).iterator.map { j =>
          val gapMin =
            if (rng.nextInt(10) < 7) 1 + rng.nextInt(20) else 31 + rng.nextInt(90)
          tsUs += gapMin * 60000000L + rng.nextInt(60000).toLong * 1000L
          (uid * perUser + j,
            java.time.Instant.ofEpochSecond(tsUs / 1000000L, (tsUs % 1000000L) * 1000L),
            uid, types(rng.nextInt(types.length)),
            math.rint(rng.nextDouble() * 2000) / 100.0,
            s"""{"k": ${rng.nextInt(100)}}""")
        }
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
  }
}

/** Per-stage task-metric counters for [[ScaleRehearsal]]: shuffle write,
  * memory/disk spill, peak execution memory, max task wall — the numbers
  * that say whether a plan would survive a 100x scale-up, not just whether
  * it finishes. Events arrive on the asynchronous listener bus: drain it
  * (`Bridge.drainListenerBus`) before reading the counters.
  */
private[tools] class StageMetrics extends org.apache.spark.scheduler.SparkListener {
  @volatile var shuffleWrite = 0L
  @volatile var memSpill = 0L
  @volatile var diskSpill = 0L
  @volatile var peakExecMem = 0L
  @volatile var maxTaskMs = 0L
  @volatile private var maxTaskStageId = -1
  // stage id -> callsite name, so the straggler task can be ATTRIBUTED
  // (round 17: the excise salt A/B measured a max task that did NOT
  // shrink with the salt — without knowing WHICH stage owns it, a fix
  // can't be judged). TrieMap: listener events arrive on the bus thread.
  val stageNames =
    scala.collection.concurrent.TrieMap.empty[Int, String]
  override def onStageSubmitted(
      ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
    stageNames.put(ss.stageInfo.stageId,
      ss.stageInfo.name.linesIterator.nextOption().getOrElse(""))
  override def onTaskEnd(
      te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      // the skew signal: one straggler task = one hot join key
      if (m.executorRunTime > maxTaskMs) {
        maxTaskMs = m.executorRunTime
        maxTaskStageId = te.stageId
      }
      val prev = stageMaxTask.getOrElse(te.stageId, 0L)
      if (m.executorRunTime > prev)
        stageMaxTask.put(te.stageId, m.executorRunTime)
    }
  }
  // per-stage max task + the stage's RDD scope chain (Exchange/Sort/
  // HashAggregate/SortMergeJoin...): under AQE every intermediate query
  // stage is submitted async, so the CALLSITE name is the same useless
  // "withThreadLocalCaptured" for all of them — the physical-operator
  // scopes are the only thing that says WHICH exchange the straggler
  // belongs to.
  val stageMaxTask =
    scala.collection.concurrent.TrieMap.empty[Int, Long]
  val stageScopes =
    scala.collection.concurrent.TrieMap.empty[Int, String]
  override def onStageCompleted(
      sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    val scopes = sc.stageInfo.rddInfos
      .flatMap(_.scope.map(_.name)).distinct.take(6).mkString(">")
    stageScopes.put(sc.stageInfo.stageId, scopes)
  }
  /** The straggler's stage callsite (JSON-safe: quotes stripped). */
  def maxTaskStage: String =
    stageNames.getOrElse(maxTaskStageId, s"stage $maxTaskStageId")
      .replace("\"", "'")
  /** Top-N stages by max task, with their operator scopes — the straggler
    * attribution line. JSON-safe string.
    */
  def topStages(n: Int = 3): String =
    stageMaxTask.toSeq.sortBy(-_._2).take(n).map { case (sid, ms) =>
      val scope = stageScopes.getOrElse(sid, "?")
      s"$sid:${ms / 1000.0}s[$scope]"
    }.mkString("; ").replace("\"", "'")
  def reset(): Unit = {
    shuffleWrite = 0; memSpill = 0; diskSpill = 0; peakExecMem = 0
    maxTaskMs = 0; maxTaskStageId = -1
    stageNames.clear(); stageMaxTask.clear(); stageScopes.clear()
  }
}

/** Run named declared queries over a [[ScaleDataGen]] slice, one sweep,
  * with per-query wall time + task-metric counters (shuffle write, memory/
  * disk spill, peak execution memory) — the numbers that say whether a
  * plan would survive a 100x scale-up, not just whether it finishes.
  */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleRehearsal <dir> <query> [query...]")
    val spark = graft.LocalSession("ScaleRehearsal")
    // 8×cpus, not the bench contract's cpus (round 17): the excise probe's
    // 20 GB gram exchange over 32 fixed reducers put 600+ MB in every
    // sort task — 78 GB of spill and a 236 s straggler of plain VOLUME,
    // not skew (the salt A/B split the keys checksum-identically and
    // the straggler did not move). A real cluster sizes reducer count
    // to data — the brief's own knob rule — and AQE coalesces the
    // small stages back down (advisory 64 MB), so light probes pay ~0.
    spark.conf.set("spark.sql.shuffle.partitions", (8 * graft.LocalSession.cpus).toString)
    // The sf2 slice is ~180 MB across 32 small part files; the default
    // 128 MB maxPartitionBytes bin-packs them into TWO scan partitions,
    // so any map-heavy first stage (per-doc gram explode + partial
    // aggregation) runs on 2 of 32 cores — measured as a 125 s max-task
    // straggler on q149's 140 s wall. 8 MB splits the slice across the
    // box the way a real cluster's file count would; this is the
    // knob-sizing the 100 TB brief calls out, applied to the REHEARSAL
    // session (per-query shapes unchanged).
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
    try run(spark, args(0), args.drop(1).toSeq, println)
    finally spark.stop()
  }

  /** Writes each named query over the slice at `dir` through the noop sink
    * and passes one JSON line per query to `emit`: `ok`, wall seconds and
    * the [[StageMetrics]] counters. Every name must be a declared query
    * (`SparkEntry.queries`); an unknown one fails before anything runs.
    * A failing query is reported with `"ok":false` and the sweep goes on.
    */
  def run(spark: SparkSession, dir: String, names: Seq[String],
      emit: String => Unit): Unit = {
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; declared names are in SparkEntry.queries")
    val sc = spark.sparkContext
    val metrics = new StageMetrics
    sc.addSparkListener(metrics)
    try {
      spark.range(10).write.format("noop").mode("overwrite").save()
      def gb(x: Long): Double = math.rint(x / 1e7) / 100.0
      for (name <- names) {
        val fn = graft.SparkEntry.queries(name)
        Bridge.drainListenerBus(sc) // earlier jobs' events land before the reset
        metrics.reset()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[rehearsal] $name failed: $e"); false
          }
        val secs = math.rint((System.nanoTime() - t0) / 1e7) / 100.0
        Bridge.drainListenerBus(sc) // every task-end event reaches the counters
        emit(s"""{"query":"$name","ok":$ok,"sec":$secs,""" +
          s""""shuffle_write_gb":${gb(metrics.shuffleWrite)},""" +
          s""""mem_spill_gb":${gb(metrics.memSpill)},""" +
          s""""disk_spill_gb":${gb(metrics.diskSpill)},""" +
          s""""peak_task_mem_gb":${gb(metrics.peakExecMem)},""" +
          s""""max_task_sec":${metrics.maxTaskMs / 1000.0},""" +
          s""""max_task_stage":"${metrics.maxTaskStage}",""" +
          s""""top_stages":"${metrics.topStages()}"}""")
      }
    } finally sc.removeSparkListener(metrics)
  }
}
