package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-side guard against SILENT watermark drops in streaming pipelines.
  *
  * The trap this exists for (measured at 10M events in the streaming
  * rehearsal): Structured Streaming's file source processes files in
  * (modificationTime, path) order. Part files written IN PARALLEL get
  * arbitrary mtimes, so a directory whose paths are sorted by event-time
  * range can still be CONSUMED out of range order — the watermark races
  * ahead on a newer range, and every row of an older range that arrives in a
  * later trigger is dropped as late. Nothing fails; whole time ranges just
  * vanish from the output (a first rehearsal run closed only 2.2M of 3.0M
  * conversations this way). Producers must either stamp mtimes in range
  * order, write ranges strictly in arrival order, or use `latestFirst=false`
  * single-writer layouts; this listener is the detection side — it surfaces
  * `numRowsDroppedByWatermark` loudly instead of leaving it buried in query
  * progress JSON. (Spark's late-event filter uses the PREVIOUS trigger's
  * watermark, so a range one trigger behind is still admitted; drops begin
  * at two-plus triggers of skew — exactly the arbitrary-mtime shape.)
  *
  * Usage:
  * {{{
  *   val guard = WatermarkDropGuard.install(spark)   // loud log on drops
  *   ... run streaming query, q.processAllAvailable() ...
  *   guard.assertClean()                              // or inspect totals
  *   guard.uninstall()
  * }}}
  *
  * The listener bus is asynchronous: call [[WatermarkDropGuard.assertClean]]
  * / [[WatermarkDropGuard.totalDropped]] only after the query is stopped (or
  * after `processAllAvailable()` plus [[awaitQuiescence]], which drains the
  * bus).
  */
final class WatermarkDropGuard(onDrop: WatermarkDropGuard.Drop => Unit)
  extends StreamingQueryListener {

  private val byQuery = new ConcurrentHashMap[UUID, Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    var batchDropped = 0L
    var i = 0
    while (i < p.stateOperators.length) {
      batchDropped += p.stateOperators(i).numRowsDroppedByWatermark
      i += 1
    }
    if (batchDropped > 0) {
      val total = byQuery.merge(p.id, batchDropped, (a, b) => a + b)
      onDrop(WatermarkDropGuard.Drop(
        p.id, Option(p.name).getOrElse(""), p.batchId, batchDropped, total))
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Rows dropped as late for one query id (0 if none observed). */
  def dropped(queryId: UUID): Long = byQuery.getOrDefault(queryId, 0L)

  /** Rows dropped as late across every query this guard observed. */
  def totalDropped: Long = {
    var t = 0L
    val it = byQuery.values().iterator()
    while (it.hasNext) t += it.next()
    t
  }

  /** Hard-fail mode for rehearsals and tests: throws if any observed query
    * dropped rows as late. Call only after the query has stopped (the
    * listener bus is async).
    */
  def assertClean(): Unit =
    if (totalDropped > 0) throw new IllegalStateException(
      s"streaming watermark dropped $totalDropped rows as late " +
        s"(per query: ${java.util.Collections.unmodifiableMap(byQuery)}); " +
        "if the input is a file source, check that file modification times " +
        "follow event-time order — parallel part writes do not (see " +
        "WatermarkDropGuard scaladoc)")

  /** Remove this guard from its session's listener bus. */
  def uninstall(spark: SparkSession): Unit = spark.streams.removeListener(this)
}

object WatermarkDropGuard {
  /** One non-zero drop observation: `batchDropped` rows in micro-batch
    * `batchId`, `totalDropped` cumulative for the query.
    */
  final case class Drop(
      queryId: UUID, queryName: String, batchId: Long,
      batchDropped: Long, totalDropped: Long)

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[WatermarkDropGuard])

  /** The default reaction: an ERROR-level log that names the failure mode
    * and the fix, impossible to mistake for routine progress chatter.
    */
  def logLoudly(d: Drop): Unit =
    log.error(
      s"WATERMARK DROP: query '${d.queryName}' (${d.queryId}) batch ${d.batchId} " +
        s"dropped ${d.batchDropped} rows as late (${d.totalDropped} total). " +
        "Late data is being DISCARDED, not deferred. With a file source this " +
        "usually means part-file modification times disagree with event-time " +
        "order (parallel writes): stamp mtimes in range order or increase the " +
        "watermark delay.")

  /** Attach a guard to the session; drops are logged loudly and tallied. */
  def install(spark: SparkSession, onDrop: Drop => Unit = logLoudly): WatermarkDropGuard = {
    val g = new WatermarkDropGuard(onDrop)
    spark.streams.addListener(g)
    g
  }

  /** Drain the asynchronous listener bus so totals are stable to read:
    * returns once every progress event posted so far has reached the
    * guard.
    */
  def awaitQuiescence(spark: SparkSession): Unit =
    Bridge.drainListenerBus(spark.sparkContext)

  /** Set to "false" to opt OUT of the automatic per-session guard that the
    * streaming entry points ([[Streams]]) install.
    *
    * The conf is consulted only at install time: it must be "false" BEFORE
    * the session's first watermark-bearing call — flipping it after a guard
    * is installed does not remove the existing listener (use
    * [[autoGuard]].foreach(g => spark.streams.removeListener(g)) for that).
    */
  val AutoConf = "spark.graft.streaming.autoDropGuard"

  // weak keys: the session's listener bus holds the guard, never the
  // reverse, so a dropped session unregisters itself from this map instead
  // of being pinned for the JVM lifetime (as graft.Artifacts bounds the
  // session-bound frames it keeps)
  private val auto = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, WatermarkDropGuard]())

  /** Idempotently install the session's automatic guard (opt-out rather
    * than opt-in — production users get drop detection without reading the
    * scaladoc): the first watermark-bearing entry point called on a
    * streaming frame attaches ONE loud-logging guard per session; later
    * calls reuse it. Honors [[AutoConf]] = "false".
    */
  def ensureInstalled(spark: SparkSession): Unit =
    if (spark.conf.get(AutoConf, "true").toBoolean) auto.synchronized {
      if (!auto.containsKey(spark)) auto.put(spark, install(spark))
      ()
    }

  /** The session's auto-installed guard, if [[ensureInstalled]] created one
    * (inspection hook for tests and rehearsals).
    */
  def autoGuard(spark: SparkSession): Option[WatermarkDropGuard] =
    auto.synchronized(Option(auto.get(spark)))
}
