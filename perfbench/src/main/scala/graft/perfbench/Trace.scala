package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so benchmark spans and
  * Spark listener spans (epoch milliseconds) share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, run: String)

/** In-memory span recorder. Disabled, it runs the body and records nothing;
  * enabled, spans stay in memory until [[write]] is called once at the end.
  */
final class Tracer(@volatile var enabled: Boolean, val run: String) {
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** The innermost open benchmark span: the parent of listener spans. */
  @volatile var current: Int = 0

  def now(): Long = epochBase + System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      current = id
      val t0 = now()
      try body
      finally {
        add(Span(id, parent, name, t0, now(), run))
        current = parent
      }
    }

  def newId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s; () }
  def count: Int = spans.synchronized(spans.size)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.synchronized {
      spans.foreach { s =>
        w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "run" -> s.run)))
        w.newLine()
      }
    } finally w.close()
  }
}

/** Totals from Spark's listener over an interval. */
final case class SparkTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, executorRunMs: Long = 0,
    executorCpuNs: Long = 0, gcMs: Long = 0, schedulerDelayMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    taskMaxMs: Long = 0, bytesWritten: Long = 0, recordsWritten: Long = 0,
    taskMs: Vector[Long] = Vector.empty) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, executorRunMs - o.executorRunMs, executorCpuNs - o.executorCpuNs,
    gcMs - o.gcMs, schedulerDelayMs - o.schedulerDelayMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, taskMs.drop(o.taskMs.size).foldLeft(0L)(math.max),
    bytesWritten - o.bytesWritten, recordsWritten - o.recordsWritten,
    taskMs.drop(o.taskMs.size))
}

/** Spark's own surfaces: a listener for jobs, stages and tasks (counted
  * always, turned into child spans of the open benchmark span when
  * tracing) and a query-execution listener that keeps the last executed
  * query of each action.
  */
final class SparkProbe(spark: SparkSession, tracer: Tracer) extends SparkListener {
  private var totals = SparkTotals()
  private val jobSpans = scala.collection.mutable.Map[Int, (Int, Int, Long)]()
  private val stageSpans = scala.collection.mutable.Map[(Int, Int), (Int, Long)]()
  private val stageParent = scala.collection.mutable.Map[Int, Int]()
  private val ms = 1000000L
  @volatile private var lastQe: Option[QueryExecution] = None

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastQe = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lastQe = None
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  def snapshot(): SparkTotals = { drain(); synchronized(totals) }

  /** The executed query of the last action that finished, once delivered. */
  def takeLastQe(): Option[QueryExecution] = { drain(); val q = lastQe; lastQe = None; q }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totals = totals.copy(jobs = totals.jobs + 1)
    if (tracer.enabled) {
      val id = tracer.newId()
      jobSpans(e.jobId) = (id, tracer.current, e.time * ms)
      e.stageIds.foreach(s => stageParent(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.add(Span(id, parent, s"spark.job.${e.jobId}", start, e.time * ms, tracer.run))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (tracer.enabled) {
      val si = e.stageInfo
      stageSpans((si.stageId, si.attemptNumber())) =
        (tracer.newId(), si.submissionTime.getOrElse(System.currentTimeMillis()) * ms)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    totals = totals.copy(stages = totals.stages + 1)
    stageSpans.remove((si.stageId, si.attemptNumber())).foreach { case (id, start) =>
      tracer.add(Span(id, stageParent.getOrElse(si.stageId, 0), s"spark.stage.${si.stageId}",
        start, si.completionTime.getOrElse(System.currentTimeMillis()) * ms, tracer.run))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val dur = ti.finishTime - ti.launchTime
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val run = g(_.executorRunTime)
    val delay = math.max(0L, dur - run - g(_.executorDeserializeTime) -
      g(_.resultSerializationTime) - (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
    totals = totals.copy(
      tasks = totals.tasks + 1,
      executorRunMs = totals.executorRunMs + run,
      executorCpuNs = totals.executorCpuNs + g(_.executorCpuTime),
      gcMs = totals.gcMs + g(_.jvmGCTime),
      schedulerDelayMs = totals.schedulerDelayMs + delay,
      shuffleReadBytes = totals.shuffleReadBytes + g(t => t.shuffleReadMetrics.totalBytesRead),
      shuffleWriteBytes = totals.shuffleWriteBytes + g(_.shuffleWriteMetrics.bytesWritten),
      spillBytes = totals.spillBytes + g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      taskMaxMs = math.max(totals.taskMaxMs, dur),
      bytesWritten = totals.bytesWritten + g(_.outputMetrics.bytesWritten),
      recordsWritten = totals.recordsWritten + g(_.outputMetrics.recordsWritten),
      taskMs = totals.taskMs :+ dur)
    if (tracer.enabled) {
      val parent = stageSpans.get((e.stageId, e.stageAttemptId)).map(_._1).getOrElse(0)
      tracer.add(Span(tracer.newId(), parent, s"spark.task.${e.stageId}.${ti.index}",
        ti.launchTime * ms, ti.finishTime * ms, tracer.run))
    }
  }
}

/** Plan-shape counts of an executed plan, looking through adaptive
  * execution into the final stages and into subqueries.
  */
final case class PlanShape(exchanges: Int = 0, joins: Int = 0, codegenStages: Int = 0,
    checkpointScans: Int = 0)

object PlanShape {
  def of(plan: SparkPlan): PlanShape = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var shape = PlanShape()
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case r: ReusedExchangeExec => visit(r.child)
        case _ =>
          p match {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike =>
              shape = shape.copy(exchanges = shape.exchanges + 1)
            case _: BaseJoinExec => shape = shape.copy(joins = shape.joins + 1)
            case _: WholeStageCodegenExec =>
              shape = shape.copy(codegenStages = shape.codegenStages + 1)
            case _ if p.nodeName.startsWith("Scan ExistingRDD") =>
              shape = shape.copy(checkpointScans = shape.checkpointScans + 1)
            case _ => ()
          }
          p.children.foreach(visit)
          p.subqueries.foreach(visit)
      }
    }
    visit(plan)
    shape
  }

  /** Every data-source scan node of the executed plan. */
  def scans(plan: SparkPlan): Seq[BatchScanExec] = {
    val out = ArrayBuffer[BatchScanExec]()
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case r: ReusedExchangeExec => visit(r.child)
      case s: BatchScanExec => out += s; ()
      case _ => p.children.foreach(visit); p.subqueries.foreach(visit)
    }
    visit(plan)
    out.toSeq
  }
}
