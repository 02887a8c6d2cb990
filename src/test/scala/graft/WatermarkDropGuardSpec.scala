package graft

import java.sql.Timestamp

import graft.streaming.{ChatAssembly, ClosedConv, TurnEvent, WatermarkDropGuard}
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

  // conversation A (user 1, turns at min 0 and 5), conversation B (user 1,
  // min 180), a spacer (user 3, min 185 — the late-events watermark lags
  // the eviction watermark by ONE batch, so a drop needs the old range to
  // arrive two triggers behind the new one), and a flush event (user 9,
  // min 600) that pushes the watermark past every deadline
  private val convA = Seq(
    TurnEvent(1, 1, ts(0), "user", "hello"),
    TurnEvent(2, 1, ts(5), "assistant", "hi"))
  private val convB = Seq(TurnEvent(3, 1, ts(180), "user", "later"))
  private val spacer = Seq(TurnEvent(4, 3, ts(185), "user", "mid"))
  private val flush = Seq(TurnEvent(9, 9, ts(600), "user", "x"))

  /** Write `evs` as a single parquet file named `name` with an explicit
    * mtime — the knob the file source orders by.
    */
  private def writeOne(dir: java.io.File, name: String, evs: Seq[TurnEvent], mtime: Long): Unit = {
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

  /** Run ChatAssembly over the directory with a guard installed; returns
    * (closed conversations as (user, n_turns), rows dropped as late,
    * captured Drop records).
    */
  private def run(dir: java.io.File, qname: String)
    : (Set[(Long, Long)], WatermarkDropGuard, Seq[WatermarkDropGuard.Drop]) = {
    val drops = scala.collection.mutable.ArrayBuffer[WatermarkDropGuard.Drop]()
    val guard = WatermarkDropGuard.install(spark, d => drops.synchronized { drops += d })
    try {
      val schema = spark.read.parquet(dir.getAbsolutePath).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
        .as[TurnEvent]
      val q = ChatAssembly.assemble(stream, "30 minutes", "10 minutes")
        .writeStream.format("memory").queryName(qname)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      WatermarkDropGuard.awaitQuiescence(spark)
      val got = spark.table(qname).as[ClosedConv].collect()
        .map(c => (c.user_id, c.n_turns)).toSet
      (got, guard, drops.synchronized(drops.toSeq))
    } finally guard.uninstall(spark)
  }

  test("mtimes against event-time order: ranges drop as late and the guard reports them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wmg-bad").toFile
    try {
      val t0 = 1700000000000L
      // conv B's file carries the EARLIEST mtime: it is consumed first, the
      // watermark jumps to min 170, and by the time conv A's range arrives
      // (two triggers later, after the spacer) it is wholly late
      writeOne(dir, "b.parquet", convB, t0)
      writeOne(dir, "s.parquet", spacer, t0 + 1000L)
      writeOne(dir, "a.parquet", convA, t0 + 2000L)
      writeOne(dir, "c.parquet", flush, t0 + 3000L)
      val (got, guard, drops) = run(dir, "t_wmg_bad")
      val dropped = guard.totalDropped
      assert(dropped == convA.size.toLong, s"expected ${convA.size} dropped, got $dropped ($drops)")
      assert(drops.nonEmpty && drops.last.totalDropped == dropped)
      assert(drops.forall(d => guard.dropped(d.queryId) == dropped))
      // conv A silently vanished from the output — the failure mode the
      // guard exists to make visible
      assert(got == Set((1L, 1L), (3L, 1L)), s"got $got")
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
    // ChatAssembly.assemble's own watermark declaration must attach the
    // session guard (opt-out semantics), and the auto guard must tally the
    // same two dropped rows
    // a FRESH session isolates the auto-install state: earlier tests in
    // this suite already triggered assemble's watermark on the shared
    // session, so its auto guard exists and carries their tallies
    val s2 = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-wmg-auto").toFile
    try {
      val t0 = 1700000000000L
      writeOne(dir, "b.parquet", convB, t0)
      writeOne(dir, "s.parquet", spacer, t0 + 1000L)
      writeOne(dir, "a.parquet", convA, t0 + 2000L)
      writeOne(dir, "c.parquet", flush, t0 + 3000L)
      val schema = s2.read.parquet(dir.getAbsolutePath).schema
      def stream = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
        .as[TurnEvent]
      // opted out: no auto guard appears
      s2.conf.set(WatermarkDropGuard.AutoConf, "false")
      try {
        val q0 = ChatAssembly.assemble(stream, "30 minutes", "10 minutes")
          .writeStream.format("memory").queryName("t_wmg_optout")
          .outputMode(OutputMode.Append).start()
        try q0.processAllAvailable() finally q0.stop()
        assert(WatermarkDropGuard.autoGuard(s2).isEmpty,
          "autoDropGuard=false must suppress the automatic install")
      } finally s2.conf.unset(WatermarkDropGuard.AutoConf)
      // default: the watermark declaration installs exactly one guard...
      val q = ChatAssembly.assemble(stream, "30 minutes", "10 minutes")
        .writeStream.format("memory").queryName("t_wmg_auto")
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      WatermarkDropGuard.awaitQuiescence(s2)
      val g = WatermarkDropGuard.autoGuard(s2)
        .getOrElse(fail("watermark declaration did not auto-install the guard"))
      assert(g.totalDropped == convA.size.toLong,
        s"auto guard tallied ${g.totalDropped}, expected ${convA.size}")
      // ...and a second declaration reuses it rather than stacking another
      val before = g
      graft.streaming.Streams.wm(stream, "ts", "10 minutes")
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
      writeOne(dir, "a.parquet", convA, t0)
      writeOne(dir, "b.parquet", convB, t0 + 1000L)
      writeOne(dir, "s.parquet", spacer, t0 + 2000L)
      writeOne(dir, "c.parquet", flush, t0 + 3000L)
      val (got, guard, drops) = run(dir, "t_wmg_ok")
      guard.assertClean() // must not throw
      assert(guard.totalDropped == 0L, s"unexpected drops: $drops")
      assert(got == Set((1L, 2L), (1L, 1L), (3L, 1L)), s"got $got")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
