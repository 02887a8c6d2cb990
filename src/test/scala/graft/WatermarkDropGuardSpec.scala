package graft

import java.sql.Timestamp

import graft.streaming.{Streams, WatermarkDropGuard}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode

/** [[WatermarkDropGuard]]: the engine-side detection for the file-source
  * mtime/ordering trap. A directory whose part files carry mtimes AGAINST
  * event-time order feeds the watermark out of order and silently drops
  * whole ranges as late; the guard must surface exactly those drops, and a
  * correctly-ordered directory must come back clean with the full output.
  */
class WatermarkDropGuardSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp((min + 1440) * 60000L)

  // range A (two events in two 10-minute windows, min 0 and 15), range B
  // (min 180), a spacer (min 185 — the late-events watermark lags the
  // eviction watermark by ONE batch, so a drop needs the old range to
  // arrive two triggers behind the new one), and a flush event (min 600)
  // that pushes the watermark past every window end. Each of A's events
  // has its own window, so each is one row at the aggregate's state
  // operator whatever the partial aggregation merges.
  private val rangeA = Seq(
    Event(1, 1, "a", ts(0), 1.0),
    Event(2, 1, "a", ts(15), 1.0))
  private val rangeB = Seq(Event(3, 1, "b", ts(180), 1.0))
  private val spacer = Seq(Event(4, 3, "s", ts(185), 1.0))
  private val flush = Seq(Event(9, 9, "f", ts(600), 1.0))

  /** Write `evs` as a single parquet file named `name` with an explicit
    * mtime — the knob the file source orders by.
    */
  private def writeOne(dir: java.io.File, name: String, evs: Seq[Event], mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wmg-part").toFile
    try {
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      require(dst.setLastModified(mtime), s"could not stamp mtime on $dst")
    } finally {
      tmp.listFiles().foreach(f => { if (f.isDirectory) f.listFiles().foreach(_.delete()); f.delete() })
      tmp.delete()
    }
  }

  /** The watermarked tumbling count over `stream`, in append mode into
    * the memory table `qname`.
    */
  private def counts(stream: DataFrame, qname: String) =
    Streams.tumblingCounts(Streams.wm(stream, "ts", "10 minutes"))
      .writeStream.format("memory").queryName(qname)
      .outputMode(OutputMode.Append).start()

  /** `dir`'s parquet files as a stream, one file per trigger in the
    * file source's (mtime, path) order.
    */
  private def fileStream(s: org.apache.spark.sql.SparkSession, dir: java.io.File) =
    s.readStream.schema(s.read.parquet(dir.getAbsolutePath).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)

  /** Run the count over the directory with a guard installed; returns
    * (emitted windows as (start, event_type, n), the guard, captured Drop
    * records).
    */
  private def run(dir: java.io.File, qname: String)
    : (Set[(Timestamp, String, Long)], WatermarkDropGuard, Seq[WatermarkDropGuard.Drop]) = {
    val drops = scala.collection.mutable.ArrayBuffer[WatermarkDropGuard.Drop]()
    val guard = WatermarkDropGuard.install(spark, d => drops.synchronized { drops += d })
    try {
      val q = counts(fileStream(spark, dir), qname)
      try q.processAllAvailable() finally q.stop()
      WatermarkDropGuard.awaitQuiescence(spark)
      val got = spark.table(qname).select("w_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      (got, guard, drops.synchronized(drops.toSeq))
    } finally guard.uninstall(spark)
  }

  test("mtimes against event-time order: ranges drop as late and the guard reports them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wmg-bad").toFile
    try {
      val t0 = 1700000000000L
      // range B's file carries the EARLIEST mtime: it is consumed first,
      // the watermark jumps to min 170, and by the time range A arrives
      // (two triggers later, after the spacer) it is wholly late
      writeOne(dir, "b.parquet", rangeB, t0)
      writeOne(dir, "s.parquet", spacer, t0 + 1000L)
      writeOne(dir, "a.parquet", rangeA, t0 + 2000L)
      writeOne(dir, "c.parquet", flush, t0 + 3000L)
      val (got, guard, drops) = run(dir, "t_wmg_bad")
      val dropped = guard.totalDropped
      assert(dropped == rangeA.size.toLong, s"expected ${rangeA.size} dropped, got $dropped ($drops)")
      assert(drops.nonEmpty && drops.last.totalDropped == dropped)
      assert(drops.forall(d => guard.dropped(d.queryId) == dropped))
      // range A's windows silently vanished from the output — the failure
      // mode the guard exists to make visible
      assert(got == Set((ts(180), "b", 1L), (ts(180), "s", 1L)), s"got $got")
      // hard-fail mode names the failure and the mtime contract
      val e = intercept[IllegalStateException] { guard.assertClean() }
      assert(e.getMessage.contains("dropped 2 rows as late") &&
        e.getMessage.contains("modification times"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("auto-install: declaring a watermark attaches the session guard; conf opts out") {
    // the drop-producing directory again, but WITHOUT an explicit install:
    // the count's own watermark declaration must attach the session guard
    // (opt-out semantics), and the auto guard must tally the same two
    // dropped rows. A FRESH session isolates the auto-install state:
    // earlier tests in this suite already declared watermarks on streams
    // of the shared session, so its auto guard exists and carries their
    // tallies
    val s2 = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-wmg-auto").toFile
    try {
      val t0 = 1700000000000L
      writeOne(dir, "b.parquet", rangeB, t0)
      writeOne(dir, "s.parquet", spacer, t0 + 1000L)
      writeOne(dir, "a.parquet", rangeA, t0 + 2000L)
      writeOne(dir, "c.parquet", flush, t0 + 3000L)
      def stream = fileStream(s2, dir)
      // opted out: no auto guard appears
      s2.conf.set(WatermarkDropGuard.AutoConf, "false")
      try {
        val q0 = counts(stream, "t_wmg_optout")
        try q0.processAllAvailable() finally q0.stop()
        assert(WatermarkDropGuard.autoGuard(s2).isEmpty,
          "autoDropGuard=false must suppress the automatic install")
      } finally s2.conf.unset(WatermarkDropGuard.AutoConf)
      // default: the watermark declaration installs exactly one guard...
      val q = counts(stream, "t_wmg_auto")
      try q.processAllAvailable() finally q.stop()
      WatermarkDropGuard.awaitQuiescence(s2)
      val g = WatermarkDropGuard.autoGuard(s2)
        .getOrElse(fail("watermark declaration did not auto-install the guard"))
      assert(g.totalDropped == rangeA.size.toLong,
        s"auto guard tallied ${g.totalDropped}, expected ${rangeA.size}")
      // ...and a second declaration reuses it rather than stacking another
      val before = g
      Streams.wm(stream, "ts", "10 minutes")
      assert(WatermarkDropGuard.autoGuard(s2).exists(_ eq before),
        "ensureInstalled must be idempotent per session")
      g.uninstall(s2)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("mtimes in event-time order: zero drops and the full output") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wmg-ok").toFile
    try {
      val t0 = 1700000000000L
      writeOne(dir, "a.parquet", rangeA, t0)
      writeOne(dir, "b.parquet", rangeB, t0 + 1000L)
      writeOne(dir, "s.parquet", spacer, t0 + 2000L)
      writeOne(dir, "c.parquet", flush, t0 + 3000L)
      val (got, guard, drops) = run(dir, "t_wmg_ok")
      guard.assertClean() // must not throw
      assert(guard.totalDropped == 0L, s"unexpected drops: $drops")
      // every window whose end the final watermark (min 590) passed
      assert(got == Set((ts(0), "a", 1L), (ts(10), "a", 1L),
        (ts(180), "b", 1L), (ts(180), "s", 1L)), s"got $got")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
