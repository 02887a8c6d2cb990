package graft

import java.sql.Timestamp

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Typed event row the streaming specs feed through MemoryStream and
  * parquet file streams.
  */
final case class Event(
    event_id: Long,
    user_id: Long,
    event_type: String,
    ts: Timestamp,
    value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // offset off the epoch: a row whose ts equals the INITIAL watermark (0)
  // is dropped as late by watermarked operators
  private def ts(min: Int): Timestamp = new Timestamp((min + 1440) * 60000L)

  private val batch1 = Seq(
    Event(1, 1, "click", ts(0), 1.0),
    Event(2, 1, "click", ts(4), 2.0),
    Event(3, 2, "view", ts(11), 3.0),
    Event(4, 2, "view", ts(14), 4.0))
  private val batch2 = Seq(
    Event(5, 1, "click", ts(21), 5.0),
    Event(6, 2, "view", ts(24), 6.0))

  /** Run a streaming transform over MemoryStream micro-batches and collect
    * the final results from the in-memory sink.
    */
  private def runStream(
      batches: Seq[Seq[Event]],
      mode: OutputMode,
      name: String)(f: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = f(input.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("tumbling window: stream (complete mode) equals batch") {
    val streamed = runStream(Seq(batch1, batch2), OutputMode.Complete, "t_tumble")(
      Streams.tumblingCounts(_))
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = Streams.tumblingCounts((batch1 ++ batch2).toDF())
      .orderBy("w_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sliding window: stream equals batch, events in 2 windows") {
    val streamed = runStream(Seq(batch1, batch2), OutputMode.Complete, "t_slide")(
      Streams.slidingCounts(_))
      .orderBy("w_start").collect().toSeq
    val batch = Streams.slidingCounts((batch1 ++ batch2).toDF())
      .orderBy("w_start").collect().toSeq
    assert(streamed == batch)
    // total n across sliding windows = 2x event count (size = 2 * slide)
    assert(batch.map(_.getLong(1)).sum == 2L * (batch1.size + batch2.size))
  }

  test("session window: stream equals batch gap semantics") {
    val streamed = runStream(Seq(batch1, batch2), OutputMode.Complete, "t_sess")(
      Streams.sessionStats(_, "30 minutes"))
      .orderBy("user_id", "s_start").collect().toSeq
    val batch = Streams.sessionStats((batch1 ++ batch2).toDF(), "30 minutes")
      .orderBy("user_id", "s_start").collect().toSeq
    assert(streamed == batch)
    // 30-min gap: each user's events all within gaps -> one session per user
    assert(batch.size == 2)
  }

  test("watermark drops events later than the delay (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.tumblingCounts(Streams.wm(input.toDF(), "ts", "5 minutes")).writeStream
      .format("memory").queryName("t_wm").outputMode(OutputMode.Append).start()
    try {
      // batch 1: events up to t=40 -> watermark advances to 35
      input.addData(Seq(
        Event(1, 1, "click", ts(2), 1.0),
        Event(2, 1, "click", ts(40), 1.0)))
      q.processAllAvailable()
      // batch 2: a VERY late event for the long-closed [0,10) window
      input.addData(Seq(Event(3, 1, "click", ts(1), 99.0)))
      q.processAllAvailable()
      // batch 3: advance watermark far so everything else emits
      input.addData(Seq(Event(4, 1, "click", ts(120), 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("t_wm")
      .select(unix_micros(col("w_start")) / 60000000, col("n"), col("sum_value"))
      .as[(Double, Long, Double)].collect().toMap2
    // the first 10-min window emitted BEFORE the late event arrived: n=1, sum=1.0
    assert(rows(1440.0) == ((1L, 1.0)))
  }

  test("stream-stream join matches clicks to purchases within the hour") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Streams.clickToPurchase(clicks.toDF(), purchases.toDF()).writeStream
      .format("memory").queryName("t_ssj").outputMode(OutputMode.Append).start()
    try {
      clicks.addData(Seq(
        Event(1, 1, "click", ts(0), 1.0),
        Event(2, 1, "click", ts(30), 1.0),
        Event(3, 2, "click", ts(5), 1.0)))
      purchases.addData(Seq(Event(10, 1, "purchase", ts(40), 9.0)))
      q.processAllAvailable()
      // user 1's both clicks precede the purchase within an hour; user 2 never purchases
      val got = spark.table("t_ssj")
        .select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 1L, 10L), (1L, 2L, 10L)))
      // a second purchase 2h later matches nothing (clicks too old)
      purchases.addData(Seq(Event(11, 1, "purchase", ts(160), 9.0)))
      q.processAllAvailable()
      assert(spark.table("t_ssj").count() == 2)
    } finally q.stop()
  }

  test("stream-static LSH index dedup flags arriving duplicates exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val lsh = graft.operators.MinHashLSH(12, 3, 1)
    val index = lsh.bandIndex(corpus, "doc_id", "text")
    // stateless band join per micro-batch; the trailing dropDuplicates
    // collapses multi-band hits and suppresses a re-sent document
    def dedup(docs: DataFrame, maxBucket: Int): DataFrame =
      lsh.candidatesFromBands(lsh.bandIndex(docs, "doc_id", "text"), index, maxBucket)
        .select(col("new_id").as("doc_id"), col("index_id").as("matched_id"))
        .dropDuplicates("doc_id", "matched_id")
    val input = MemoryStream[(Long, String)]
    val q = dedup(input.toDF().toDF("doc_id", "text"), maxBucket = 0)
      .writeStream.format("memory").queryName("t_lshdedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        (10L, "the quick brown fox jumps over the lazy dog"), // dup of 1
        (11L, "zebra xylophone quark nebula glyph prism vortex")))
      q.processAllAvailable()
      input.addData(Seq(
        (10L, "the quick brown fox jumps over the lazy dog"), // re-sent: suppressed
        (12L, "dog lazy the over jumps fox brown quick the"))) // same token SET as 1
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_lshdedup").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (12L, 1L)))
    // maxBucket > 0 must remain a SUPPORTED streaming plan (round 16: the
    // cap is index-side only — a batch-side groupBy + left_anti here would
    // throw UnsupportedOperationChecker at query start)
    val input2 = MemoryStream[(Long, String)]
    val q2 = dedup(input2.toDF().toDF("doc_id", "text"), maxBucket = 5)
      .writeStream.format("memory").queryName("t_lshdedup_cap")
      .outputMode(OutputMode.Append).start()
    try {
      input2.addData(Seq((20L, "the quick brown fox jumps over the lazy dog")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.table("t_lshdedup_cap").as[(Long, Long)].collect().toSet ==
      Set((20L, 1L)))
  }

  test("stream-static as-of enrichment: each event joins its reference version") {
    // the classic enrichment shape: a stream as-of-joins a versioned
    // static reference (broadcast path — stateless per micro-batch)
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      (1L, 0L, "v1"), (1L, 20L, "v2"),   // user 1: v2 from t=20
      (2L, 5L, "v1"))
      .toDF("r_user", "r_ts", "version")
    val input = MemoryStream[Event]
    val stream = input.toDF()
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_l"))
    val joinedDf = graft.plans.AsOf.join(
      stream, ref.withColumn("r_ts_us", $"r_ts" * 60000000L + 1440L * 60000000L)
        .select($"r_user", $"r_ts_us", $"version"),
      Seq("user_id"), Seq("r_user"), "ts_l", "r_ts_us", joinType = "left")
    val q = joinedDf.select($"event_id", $"version").writeStream
      .format("memory").queryName("t_asof_enrich")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        Event(1, 1, "click", ts(10), 1.0),   // before user-1 v2 -> v1
        Event(2, 1, "click", ts(25), 1.0),   // after t=20 -> v2
        Event(3, 2, "view", ts(2), 1.0),     // user 2 -> v1 (from t=5? no: t=2 < 5 -> NULL)
        Event(4, 3, "view", ts(9), 1.0)))    // unknown user -> NULL
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_asof_enrich").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("v1"), 2L -> Some("v2"),
      3L -> None, 4L -> None))
  }

  test("streaming geofence: the BATCH spatial join runs unchanged stream-static") {
    // SpatialJoin.pointsInZones is pure stateless composition (project +
    // explode + equi-join + filter), so a streaming point feed against
    // static zones needs no wrapper, no watermark, and no state store —
    // this test pins that claim
    implicit val sqlCtx = spark.sqlContext
    val zones = Seq(
      (1L, 0.0, 0.0, 10.0, 10.0),
      (2L, 20.0, 20.0, 30.0, 30.0)).toDF("zone_id", "xmin", "ymin", "xmax", "ymax")
    val input = MemoryStream[(Long, Double, Double)]
    val pts = input.toDF().toDF("pid", "x", "y")
    val q = graft.operators.SpatialJoin.pointsInZones(pts, zones, cellSize = 8.0)
      .select("pid", "zone_id")
      .writeStream.format("memory").queryName("t_geofence")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq((1L, 5.0, 5.0), (2L, 25.0, 25.0), (3L, 50.0, 50.0)))
      q.processAllAvailable()
      input.addData(Seq((4L, 9.5, 0.5), (5L, 15.0, 15.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_geofence").as[(Long, Long)].collect().toSet
    // in-zone points match their zone across batches; out-of-zone never emit
    assert(got == Set((1L, 1L), (2L, 2L), (4L, 1L)))
  }

  private implicit class MapOps(rows: Array[(Double, Long, Double)]) {
    def toMap2: Map[Double, (Long, Double)] =
      rows.map { case (k, a, b) => k -> ((a, b)) }.toMap
  }
}
