package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and prints its metrics; the last line of
  * standard output is the JSON result.
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *   Main --record FILE --data DIR --work DIR   (writes the catalog's expected answers)
  *
  * Load is a closed loop with one client: each call into the program starts
  * after the previous one returned. `--trace 0` measures the end-to-end
  * metrics with tracing off; `--trace 1` is the separate traced run that
  * yields the per-layer metrics.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, data: String = "", work: String = "", record: String = "")

  def parse(args: Seq[String]): Args = args match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toDouble)
    case "--trace" +: v +: rest =>
      require(v == "0" || v == "1", s"--trace takes 0 or 1, got $v")
      parse(rest).copy(trace = v == "1")
    case "--data" +: v +: rest => parse(rest).copy(data = v)
    case "--work" +: v +: rest => parse(rest).copy(work = v)
    case "--record" +: v +: rest => parse(rest).copy(record = v)
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  /** Untimed passes run this long between set-up and the timed passes. */
  val WarmSeconds = 5.0

  /** Metrics with their units, in the order BENCHMARK.json lists them. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "query_p50_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "query_p90_s" -> "s", "heap_after_gc_mb" -> "MB",
    "tiff.tags.read_ms" -> "ms", "raster.plan_ms" -> "ms",
    "tiff.decode.ms" -> "ms", "tiff.decode.bytes_in" -> "bytes",
    "tiff.decode.bytes_out" -> "bytes", "tiff.decode.mb_per_s" -> "MB/s",
    "tiff.decode.read_amplification" -> "ratio", "tiff.imageio.ms" -> "ms",
    "crs.ns_per_point" -> "ns", "geomath.area_ns_per_row" -> "ns",
    "scan.noop_s" -> "s", "scan.rows_out" -> "count", "scan.useful_ratio" -> "ratio",
    "scan.windows" -> "count", "scan.task_p50_ms" -> "ms", "scan.task_max_ms" -> "ms",
    "scan.core_util" -> "ratio", "raster.mpx_per_s" -> "Mpx/s",
    "zonal.agg_ms" -> "ms", "zonal.shuffle_write_bytes" -> "bytes", "zonal.cells" -> "count",
    "sink.extra_s" -> "s", "sink.bytes_written" -> "bytes", "sink.records_written" -> "count",
    "sink.files" -> "count", "sink.bytes_per_point" -> "bytes") ++
    CatalogMix.modules.map(m => s"queries.$m.s" -> "s") ++ Seq(
    "catalog.build_s" -> "s", "catalog.build_jobs" -> "count", "catalog.exec_s" -> "s",
    "plan.checkpoint_scans" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "plan.exchanges" -> "count", "plan.joins" -> "count",
    "plan.codegen_stages" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_delay_ms" -> "ms", "shuffle.read_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes", "spill.bytes" -> "bytes", "task.max_ms" -> "ms",
    "trace.overhead_s" -> "s", "trace.spans" -> "count")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private val started = System.nanoTime()
  /** Progress on standard error, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  def loadavg1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    require(a.data.nonEmpty && a.work.nonEmpty, "--data and --work are required")
    val code =
      if (a.record.nonEmpty) { record(a); 0 }
      else run(a)
    sys.exit(code)
  }

  /** Writes the catalog's expected row counts and digests from this tree. */
  def record(a: Args): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(a.work)
    val spark = session(cores, work)
    try {
      graft.plans.GraftFunctions.installPlanRewrites(spark)
      val lines = CatalogMix.queries.map { case (_, q) =>
        val rows = graft.queries.Catalog.queries(q)(spark, a.data).collect().toSeq
        s"$q\t${rows.size}\t${CatalogMix.digest(rows)}"
      }
      Files.write(Paths.get(a.record),
        ("# query\trows\tdigest (- = row count only)" +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }

  def run(a: Args): Int = {
    val w = Workload.byName(a.workload, a.seed, a.data)
    val cores = Runtime.getRuntime.availableProcessors()
    val witness = Seq("nproc" -> cores, "loadavg_1m" -> loadavg1(),
      "calibration_s" -> graft.Bench.calibrationProbe())
    val work = Paths.get(a.work).resolve(s"${a.workload}-${ProcessHandle.current().pid()}")
    val tracer = new Tracer(false, s"${a.workload}-seed${a.seed}")
    var attempted, failed = 0L
    var spark: SparkSession = null
    var ctx: Ctx = null
    def closeCtx(): Unit = if (ctx != null) {
      attempted += ctx.attempted; failed += ctx.failed
      ctx.probe.detach(); spark.stop(); ctx = null
    }
    try {
      val setups = (1 to w.setupReps).map { _ =>
        closeCtx()
        deleteTree(work)
        Files.createDirectories(work)
        val t0 = System.nanoTime()
        spark = session(cores, work)
        ctx = new Ctx(spark, new SparkProbe(spark, tracer), tracer, work, cores)
        w.setup(ctx)
        val s = (System.nanoTime() - t0) / 1e9
        log(f"setup $s%.3f s")
        s
      }
      w.prepare(ctx)
      // one collection clears what set-up left behind (earlier sessions
      // included); from here on only the JVM's own collections run. Untimed
      // passes follow until the JIT has compiled the hot loops and the heap
      // has grown back: after a single one, pass times kept falling for
      // several seconds.
      System.gc()
      val warm0 = System.nanoTime()
      var warm = 0
      while (warm < 1 || (System.nanoTime() - warm0) / 1e9 < WarmSeconds) {
        warm += 1
        w.pass(ctx, -warm)
      }
      log(s"expected answers ready, warm after $warm untimed passes")
      // timed passes; a traced run spends the first half untraced, for the overhead
      val passes = scala.collection.mutable.ArrayBuffer[(Seq[OpStat], SparkTotals, Boolean)]()
      val heap = new HeapWatch
      def timed(seconds: Double, traced: Boolean, minPasses: Int): Unit = {
        tracer.enabled = traced
        heap.armed = true
        val t0 = System.nanoTime()
        var n = 0
        while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
          val before = ctx.probe.snapshot()
          val ops = tracer.span(s"pass.${passes.size + 1}")(w.pass(ctx, passes.size + 1))
          passes += ((ops, ctx.probe.snapshot() - before, traced))
          log(f"pass ${passes.size}${if (traced) " traced" else ""} ${ops.map(_.wall).sum}%.3f s")
          n += 1
        }
        heap.armed = false
        tracer.enabled = false
      }
      if (a.trace) {
        timed(a.seconds / 2, traced = false, minPasses = 2)
        timed(a.seconds / 2, traced = true, minPasses = 2)
      } else timed(a.seconds, traced = false, minPasses = 3)
      w.finish(ctx)
      log("checked")
      heap.close()
      val gcs = heap.samplesMb
      // 0 when the JVM collected nothing while timing, as for a layer not run
      val heapMb = if (gcs.isEmpty) 0.0 else Stats.median(gcs)
      log(f"heap after gc: median $heapMb%.1f MB over ${gcs.size} collections")

      val untraced = passes.filterNot(_._3)
      val runS = passSeconds(untraced.map(_._1).toSeq)
      val q = untraced.flatMap(_._1.map(_.wall)).toSeq
      val p90 = Stats.percentile(q, 90)
      val e2e = Seq("setup_s" -> Stats.median(setups), "run_s" -> runS,
        "query_p50_s" -> Stats.median(q))
      val layers =
        if (!a.trace) Nil
        else {
          val traced = passes.filter(_._3).toSeq
          tracer.enabled = true
          val own = w.layers(ctx, traced.map(_._1))
          tracer.enabled = false
          // the tail needs every sample the run has, traced or not
          val all = passes.flatMap(_._1.map(_.wall)).toSeq
          val common = commonLayers(traced, runS) ++ Seq("trace.spans" -> tracer.count.toDouble,
            "query_p90_s" -> Stats.percentile(all, 90), "heap_after_gc_mb" -> heapMb)
          val got = (own ++ common).toMap
          perLayer.map { case (n, _) => n -> got.getOrElse(n, 0.0) }
        }
      closeCtx()
      if (a.trace) tracer.write(Paths.get(a.work, "traces", s"${a.workload}-seed${a.seed}.jsonl"))

      val failedFrac = failed.toDouble / math.max(1L, attempted)
      // the human-readable lines: every end-to-end figure by name and unit
      val units = (endToEnd ++ perLayer).toMap
      val mpxPerS = if (w.mpx > 0) f"${w.mpx / runS}%.4f" else "n/a"
      println(s"workload ${a.workload} seed ${a.seed}: ${untraced.size} timed passes, " +
        s"${q.size} timed calls (query_p90_s has ${Stats.beyond(q, 90)} samples beyond it)")
      (e2e ++ Seq("query_p90_s" -> p90, "heap_after_gc_mb" -> heapMb)).foreach { case (n, v) =>
        println(f"  $n%-18s $v%.6f ${units(n)}")
      }
      println(f"  ${"mpx_per_s"}%-18s $mpxPerS Mpx/s")
      println(f"  ${"failed_frac"}%-18s $failedFrac%.6f ratio ($failed of $attempted)")
      println(Json.obj(Seq("witness" -> Json.Raw(Json.obj(witness)))))
      val metrics = (if (a.trace) layers else e2e).map { case (n, v) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> units(n))))
      }
      println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
        "failed" -> failed, "metrics" -> Json.Raw(Json.obj(metrics)))))
      0
    } finally {
      if (ctx != null) closeCtx()
      deleteTree(work)
    }
  }

  /** Wall time of one pass: the sum over the pass's calls of each call's
    * median across passes, which a single disturbed call cannot move.
    */
  def passSeconds(passes: Seq[Seq[OpStat]]): Double =
    passes.flatten.groupBy(_.module).values.map(ops => Stats.median(ops.map(_.wall))).sum

  /** Per-layer figures every workload yields from its traced passes. */
  def commonLayers(traced: Seq[(Seq[OpStat], SparkTotals, Boolean)], untracedRunS: Double)
      : Seq[(String, Double)] = {
    def med(f: Seq[OpStat] => Double): Double = Stats.median(traced.map(p => f(p._1)))
    def medT(f: SparkTotals => Double): Double = Stats.median(traced.map(p => f(p._2)))
    Seq(
      "catalog.build_s" -> med(_.map(_.buildS).sum),
      "catalog.build_jobs" -> med(_.map(_.buildJobs.toDouble).sum),
      "catalog.exec_s" -> med(_.map(_.execS).sum),
      "plan.checkpoint_scans" -> med(_.map(_.shape.checkpointScans.toDouble).sum),
      "catalyst.analysis_ms" -> med(_.map(_.analysisMs).sum),
      "catalyst.optimization_ms" -> med(_.map(_.optimizationMs).sum),
      "catalyst.planning_ms" -> med(_.map(_.planningMs).sum),
      "plan.exchanges" -> med(_.map(_.shape.exchanges.toDouble).sum),
      "plan.joins" -> med(_.map(_.shape.joins.toDouble).sum),
      "plan.codegen_stages" -> med(_.map(_.shape.codegenStages.toDouble).sum),
      "spark.jobs" -> medT(_.jobs.toDouble),
      "spark.stages" -> medT(_.stages.toDouble),
      "spark.tasks" -> medT(_.tasks.toDouble),
      "spark.executor_run_s" -> medT(_.executorRunMs / 1e3),
      "spark.executor_cpu_s" -> medT(_.executorCpuNs / 1e9),
      "spark.gc_s" -> medT(_.gcMs / 1e3),
      "spark.scheduler_delay_ms" -> medT(_.schedulerDelayMs.toDouble),
      "shuffle.read_bytes" -> medT(_.shuffleReadBytes.toDouble),
      "shuffle.write_bytes" -> medT(_.shuffleWriteBytes.toDouble),
      "spill.bytes" -> medT(_.spillBytes.toDouble),
      "task.max_ms" -> medT(_.taskMaxMs.toDouble),
      "trace.overhead_s" -> (passSeconds(traced.map(_._1)) - untracedRunS))
  }
}
