package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one call into a public entry point cost, as seen from outside. */
final case class OpStat(module: String, wall: Double, buildS: Double, execS: Double,
    buildJobs: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double,
    shape: PlanShape)

/** Shared state of one benchmark run: the session, Spark's listeners, the
  * tracer, and the failure ledger every answer check writes to.
  */
final class Ctx(val spark: SparkSession, val probe: SparkProbe, val tracer: Tracer,
    val workDir: java.nio.file.Path, val cores: Int) {
  var attempted = 0L
  var failed = 0L

  /** Counts one attempted operation; a false check counts it as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
    ok
  }

  /** Builds a frame, runs one action on it and measures both halves. The
    * action's executed query is taken from Spark's query-execution listener.
    */
  def op[B, T](module: String)(build: => B)(act: B => T)
      : (T, OpStat, Option[org.apache.spark.sql.execution.QueryExecution]) =
    tracer.span(s"op.$module") {
      val jobs0 = probe.snapshot().jobs
      val t0 = System.nanoTime()
      val b = tracer.span("build")(build)
      val t1 = System.nanoTime()
      val jobs1 = probe.snapshot().jobs
      val t2 = System.nanoTime()
      val res = tracer.span("exec")(act(b))
      val t3 = System.nanoTime()
      val qe = probe.takeLastQe()
      // a frame built by the call was analyzed there; the action's own
      // query is analyzed, optimized and planned when it runs
      val built = b match {
        case d: org.apache.spark.sql.Dataset[_] => Some(d.queryExecution)
        case _ => None
      }
      def phase(p: String): Double = (built.toSeq ++ qe).distinct
        .flatMap(_.tracker.phases.get(p)).map(_.durationMs.toDouble).sum
      val shape = qe.map(q => PlanShape.of(q.executedPlan)).getOrElse(PlanShape())
      val st = OpStat(module, (t1 - t0 + t3 - t2) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9,
        jobs1 - jobs0, phase("analysis"), phase("optimization"), phase("planning"), shape)
      (res, st, qe)
    }
}

/** One benchmark workload. A run calls [[setup]] on a fresh session one or
  * more times, then [[pass]] until the measuring time is used up.
  */
trait Workload {
  def name: String
  /** How many times one run sets up; the median is reported. */
  def setupReps: Int
  /** Megapixels one pass reads, 0 when the workload reads no raster. */
  def mpx: Double
  /** Inputs, cold pass and artifact builds, on a fresh session. */
  def setup(ctx: Ctx): Unit
  /** Computes the expected answers, after set-up and before the timed passes. */
  def prepare(ctx: Ctx): Unit
  /** One timed pass; `p` numbers the pass within the run. */
  def pass(ctx: Ctx, p: Int): Seq[OpStat]
  /** Untimed checks after the last pass. */
  def finish(ctx: Ctx): Unit = ()
  /** Per-layer probes, run only in the traced run. */
  def layers(ctx: Ctx, passes: Seq[Seq[OpStat]]): Seq[(String, Double)]
}

object Workload {
  def byName(name: String, seed: Long, dataDir: String): Workload = name match {
    case "raster_export" => new RasterExport(seed)
    case "raster_zonal" => new RasterZonal(seed)
    case "catalog_mix" => new CatalogMix(seed, dataDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
