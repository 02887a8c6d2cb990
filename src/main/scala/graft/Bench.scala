package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is fully materialized through the noop
  * sink (count() would let Catalyst drop unreferenced projections and
  * under-measure); a warmup pass on the smallest table initializes codegen
  * and the parquet footer caches outside the timed region.
  *
  * Repeat-median methodology (round-6): single-shot timings proved too noisy
  * to gate on — BENCH_r05 vs r04 differed 2x on three queries with zero code
  * change, and BASELINE.md records a 59.6-75.2s spread across identical
  * commits. The bench now runs SPARK_GRAFT_BENCH_REPEATS (default 3) full
  * sweeps over the query set and reports the per-query MEDIAN as the
  * headline number, plus min/max spread for noise diagnosis. Sweeping the
  * whole set N times (rather than repeating each query N times back-to-back)
  * spreads JIT/cache/GC effects evenly instead of handing pass-2 a
  * same-query warm cache.
  *
  * Contention forensics (round-13): BENCH_r12's official record (143.5 s)
  * breached the gate while an idle re-run of the SAME tree measured
  * 115.7 s — a machine-contention artifact the emitted JSON could not
  * distinguish from a real regression (median-of-3 is not robust when 2 of
  * 3 sweeps are contended). The record is now self-diagnosing:
  *   - `sweep_totals` — wall seconds of each full sweep (a contended run
  *     shows one sweep far above the others; uniform elevation means the
  *     whole run was contended);
  *   - `loadavg` — /proc/loadavg's 1-minute field sampled immediately
  *     before each sweep (>ncpus at sweep start = external load);
  *   - `min_total` — sum of per-query MINIMA across sweeps, the standard
  *     contention-robust statistic (a query's min is its least-contended
  *     observation; the per-query band guard already gates on these).
  * The headline `value` stays the median total — min_total is an added
  * field so a reader can adjudicate, not a quiet statistic switch. When the
  * slowest WARM sweep's wall total exceeds the best warm sweep by >25%
  * (sweep 1 is excluded — it pays the artifact builds and codegen JIT by
  * design and is elevated on every run), ONE extra recovery sweep runs and
  * is folded into the same per-query stats, recorded via `resweep:true`.
  *
  * Catalog-growth budget (round-14, measured — BASELINE "per-query
  * fixed-overhead cost model" row): each declared query costs ~0.1 s of
  * pure harness floor (plan + noop commit) plus its real sf0.1 work —
  * ~0.56 s/query observed across the catalog — so the static 134.8 s gate
  * leaves roughly 60–70 more LIGHT queries of headroom. New families must
  * land shared detect-once on-disk artifacts from day one (the q167/q168
  * and q169/q170 shape); a family that rebuilds its detector per sweep
  * spends 5–20 light-query budgets.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Host-speed calibration probe (round-15, VERDICT r14 task 1). Two rounds
    * running, the official bench record was polluted by a measured ~25–30%
    * host oscillation (uniform inflation across untouched queries at low
    * loadavg — throttling/neighbor noise, not load), turning a green tree
    * into a nominal gate breach that only a human A/B could adjudicate. The
    * record is now self-normalizing: a DETERMINISTIC single-thread CPU probe
    * (a fixed 200M-iteration multiply/rotate/xor mix — xxhash-style avalanche,
    * no memory traffic, so it tracks core speed rather than cache luck) runs
    * at each sweep start and its wall seconds are emitted as `calib_secs`
    * next to `loadavg`. Reading rule (also in BASELINE.md):
    *
    *   normalized_total = value × CalibNominalSecs / median(calib_secs)
    *
    * On the idle machine the probe measures ~0.44 s (recorded nominal below),
    * so calib ≈ nominal and the correction is ~1. In an oscillation window
    * the probe inflates by the same factor as every other single-thread
    * workload and the division removes it. The JSON carries both the raw
    * `value` (the gate-facing headline, unchanged semantics) and
    * `normalized_total`, so a machine reading a 142-vs-134.8 record can see
    * "the host was 1.25× slow; normalized 114 s is green" without a judge
    * re-run. The workload is pinned by [[calibWork]]'s return value in
    * BenchGuardSpec — changing the loop invalidates the nominal, and the
    * spec makes that loud.
    */
  val CalibIters: Long = 200000000L
  /** Idle-machine nominal for [[CalibIters]], measured 2026-08-15 (loadavg
    * 0.16, 5 runs: 0.4525/0.4398/0.4390/0.4399/0.4395 — first run carries
    * residual JIT; the probe warms itself before timing). */
  val CalibNominalSecs: Double = 0.44

  /** The fixed calibration workload. Pure function of `iters`; the spec pins
    * its value at [[CalibIters]] so the nominal cannot silently drift. */
  def calibWork(iters: Long): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      h = java.lang.Long.rotateLeft(h * 0xC2B2AE3D27D4EB4FL, 31) + 0x165667B19E3779F9L
      h ^= h >>> 29
      i += 1
    }
    h
  }

  // Sink for the probe's hash so the JIT cannot dead-code the loop.
  @volatile private var calibSink: Long = 0L

  /** Wall seconds of [[calibWork]] at [[CalibIters]], after a short untimed
    * warm pass so sweep 1's probe is not inflated by C2 compilation of the
    * loop itself. */
  def calibrationProbe(): Double = {
    calibSink = calibWork(10000000L) // JIT warm, untimed
    val t0 = System.nanoTime()
    calibSink = calibWork(CalibIters)
    (System.nanoTime() - t0) / 1e9
  }

  /** The reading rule, as arithmetic: scale the raw total by
    * nominal/median(calib). Poisoned totals (failed queries → -1) and
    * missing/invalid probe observations pass through unchanged — the
    * normalizer must never turn a rejected run into an accepted one. */
  def normalizedTotal(total: Double, calibs: Seq[Double],
      nominal: Double = CalibNominalSecs): Double = {
    val valid = calibs.filter(_ > 0)
    if (total < 0 || valid.isEmpty) total
    else math.rint(total * nominal / median(valid) * 1000) / 1000
  }

  /** Per-query regression guard (round-10): a recorded band file maps each
    * query to its [min, max] sweep spread from a previously-committed run
    * at the same sf. A query whose current median exceeds `driftFactor` ×
    * its recorded max is a regression; the run exits nonzero and names the
    * offenders, so per-query perf evidence is machine-checked instead of
    * living in BASELINE.md prose and an eyeball diff.
    *
    * The band format is this file's own `spread` output (flat JSON object
    * of `"name":[lo,hi]`), so recording is `SPARK_GRAFT_BENCH_RECORD_BANDS=
    * <path>` on a green run and the guard is `SPARK_GRAFT_BENCH_BANDS=
    * <path>` on any later one. Parsed with a regex rather than a JSON
    * library: the grammar is a single flat object of string→[num,num]
    * produced by this same object, and the build has no JSON dependency.
    */
  private val bandRe =
    """"([A-Za-z0-9_]+)"\s*:\s*\[\s*(-?[0-9.eE+-]+)\s*,\s*(-?[0-9.eE+-]+)\s*\]""".r

  def parseBands(s: String): Map[String, (Double, Double)] =
    bandRe.findAllMatchIn(s)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
      .toMap

  /** Contention-recovery trigger: among the WARM sweeps (sweep 1 excluded —
    * it pays every on-disk artifact build plus per-query codegen by
    * design, ~30 s of structural elevation on an idle run, so including it
    * would fire the "contention" sweep on every single run and destroy the
    * flag's diagnostic value), the slowest exceeds the best by >25%.
    * Requires ≥2 warm sweeps (one has no spread to judge). BENCH_r12's
    * contended run fires this (warm sweeps swung 5–12× on untouched
    * queries); an idle run's warm sweeps agree within the documented
    * run-to-run band and do not.
    */
  def needsResweep(sweepTotals: Seq[Double]): Boolean = {
    val warm = sweepTotals.drop(1)
    warm.size > 1 && warm.max > warm.min * 1.25
  }

  /** The guard-facing statistic for one query: the median of its WARM
    * observations (sweep 1 dropped when more than one sweep ran — it pays
    * the one-time on-disk artifact builds by design). Recorded bands are
    * warm-only (round 15), so comparing an all-sweep median against them is
    * wrong whenever the cold sweep is in the mix: at REPEATS=2 the
    * all-sweep median is the MEAN of cold and warm, and q174 (~106 s cold,
    * ~0.5 s warm) would read ~53 s against a 0.6 s ceiling — a guaranteed
    * false regression under a legal env setting (round-15 advice).
    * A failed warm observation (-1) poisons the query, same as the
    * headline rule.
    */
  def guardMedian(sweeps: Seq[Double]): Double = {
    val warm = if (sweeps.length > 1) sweeps.drop(1) else sweeps
    if (warm.isEmpty || warm.exists(_ < 0)) -1.0 else median(warm)
  }

  /** Regressions under the drift rule. The absolute floor (default 0.25 s)
    * keeps sub-100ms queries from tripping the guard on scheduler jitter
    * alone: a 0.04 s query at 0.09 s is noise, not a plan change.
    */
  def regressions(
      medians: Seq[(String, Double)],
      bands: Map[String, (Double, Double)],
      driftFactor: Double = 2.0,
      floorSec: Double = 0.25): Seq[(String, Double, Double)] =
    medians.flatMap { case (name, med) =>
      bands.get(name) match {
        case Some((_, hi)) if med >= 0 &&
            med > math.max(hi * driftFactor, hi + floorSec) =>
          Some((name, med, hi))
        case _ => None
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    val spark = LocalSession("Bench")
    warmUp(spark, sfDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
    // timings(name) = one entry per sweep; -1 marks a failed run
    val timings = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    // 1-minute loadavg sampled at sweep start: the contention witness. A
    // value near/above the executor-thread count at local[N] means another
    // process was competing for the same cores during that sweep.
    def loadavg1(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8).split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    var sweepTotals = Vector.empty[Double]
    var sweepLoads = Vector.empty[Double]
    var sweepCalibs = Vector.empty[Double]
    def runSweep(sweep: Int): Unit = {
      sweepLoads :+= r3(loadavg1())
      sweepCalibs :+= r3(calibrationProbe())
      val s0 = System.nanoTime()
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name failed (sweep $sweep): ${e.getMessage}"); false
          }
        timings(name) :+= (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
      sweepTotals :+= r3((System.nanoTime() - s0) / 1e9)
    }
    (1 to repeats).foreach(runSweep)
    // Contention recovery: one extra sweep when the WARM sweeps' wall
    // totals spread >25% (BENCH_r12's forensic signature; sweep 1 is
    // structurally cold and excluded). The extra observations tighten
    // every per-query min and shift the median toward the idle truth
    // without discarding any data. Skipped when any query failed: a
    // fast-failing query deflates its sweep's wall total, so the spread
    // trigger would read failure asymmetry as contention — and the run is
    // already rejected via failed>0, so a recovery sweep buys nothing.
    val anyFailed = names.exists(n => timings(n).exists(_ < 0))
    val resweep = !anyFailed && needsResweep(sweepTotals)
    if (resweep) {
      System.err.println(f"[bench] sweep totals ${sweepTotals.mkString(", ")} spread >25%% — running one recovery sweep")
      runSweep(repeats + 1)
    }
    // per-query median over successful sweeps; any failed sweep poisons the query
    val perQuery = names.map { n =>
      val ts = timings(n)
      n -> (if (ts.exists(_ < 0)) -1.0 else r3(median(ts)))
    }
    val qs = perQuery.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = names.map { n =>
      val ts = timings(n).filter(_ >= 0)
      val (lo, hi) = if (ts.isEmpty) (-1.0, -1.0) else (r3(ts.min), r3(ts.max))
      s"\"" + n + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    // A failed query must poison the TOTAL, not shrink it: summing only the
    // successes would let a broken query read as a faster run (round-1
    // advice finding). total=-1 + "failed" count + nonzero exit make the
    // bench gate reject any run with errors.
    val failed = perQuery.count(_._2 < 0)
    val total = if (failed > 0) -1.0 else r3(perQuery.map(_._2).sum)
    // Sum of per-query minima: the contention-robust companion statistic.
    // Poisoned exactly like `total` so a failed query can't shrink it.
    val minTotal = if (failed > 0) -1.0 else
      r3(names.map(n => timings(n).filter(_ >= 0).min).sum)
    val sweepsJson = sweepTotals.mkString("[", ",", "]")
    val loadsJson = sweepLoads.mkString("[", ",", "]")
    val calibsJson = sweepCalibs.mkString("[", ",", "]")
    val normTotal = normalizedTotal(total, sweepCalibs)
    println(s"""{"metric":"total","value":$total,"unit":"sec","min_total":$minTotal,"normalized_total":$normTotal,"calib_secs":$calibsJson,"calib_nominal":$CalibNominalSecs,"failed":$failed,"repeats":$repeats,"resweep":$resweep,"sweep_totals":$sweepsJson,"loadavg":$loadsJson,"queries":$qs,"spread":$spread,"sf":"$sfDir"}""")
    // Per-query evidence for bounded tail captures (round-18, VERDICT r17
    // item 2): the full line above is ~20 KB and the driver's record keeps
    // only the LAST 2000 chars of stdout (measured: every BENCH_r*.json
    // `tail` field is exactly 2000 chars, slicing the per-query map
    // mid-line — PERF_r17 compared zero queries). One compact minima line
    // (~4.5 KB at 177 queries) placed AFTER the totals trailer would evict
    // the trailer from such a tail and lose the headline total, so the
    // minima are emitted as CHUNKED JSON lines (≤ 40 queries, ~1.2 KB
    // each) BEFORE the trailer: a 2 KB tail still ends with [tail of the
    // chunk stream] + trailer — the final chunk(s) arrive complete and the
    // totals stay parseable. Strictly additive: every pre-existing line is
    // unchanged. The unchunked map also goes to stderr for log readers.
    val minsByName = names.map { n =>
      val ts = timings(n).filter(_ >= 0)
      n -> (if (ts.isEmpty) -1.0 else r3(ts.min))
    }
    def minJson(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val minChunks = minsByName.grouped(40).toVector
    minChunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"per_query_min","part":${i + 1},"parts":${minChunks.size},"queries":${minJson(c)},"sf":"$sfDir"}""")
    }
    System.err.println(
      s"""{"metric":"per_query_min","queries":${minJson(minsByName)},"sf":"$sfDir"}""")
    // Second, SHORT summary line: the full line above is >2000 chars at 127
    // queries, and a tail-capture of the process output slices off its head —
    // including the total (BENCH_r08 had rc=0 but parsed:null for exactly
    // this reason). Printing the headline fields again in a compact trailer
    // guarantees any bounded tail capture still contains a parseable total.
    val trailer = s"""{"metric":"total","value":$total,"unit":"sec","min_total":$minTotal,"normalized_total":$normTotal,"calib_secs":$calibsJson,"calib_nominal":$CalibNominalSecs,"failed":$failed,"queries":${names.length},"sweep_totals":$sweepsJson,"loadavg":$loadsJson,"sf":"$sfDir"}"""
    println(trailer)
    // Also emit the trailer on STDERR: sbt prefixes every stdout line with
    // "[info] ", which defeats line-oriented JSON parsing downstream
    // (BENCH_r09 had the trailer in the tail but parsed:null for exactly
    // this reason). sbt leaves stderr unprefixed.
    System.err.println(trailer)
    // Record mode: persist this run's WARM spread as the band file for
    // later guard runs (only meaningful on a fully-green sweep). Warm-only
    // (round 15): sweep 1 pays every on-disk artifact build, so including
    // it put a query's COLD cost in its band ceiling — q174's first
    // recorded band was [0.44, 106.4], making its guard threshold ~213 s
    // against a 0.53 s warm median, i.e. inert. The guard compares
    // warm-dominated MEDIANS, so the recorded ceiling must be the warm
    // spread. The emitted `spread` field keeps the full min/max — it is
    // the cold-cost diagnostic; only the RECORDED bands drop sweep 1
    // (when more than one sweep ran).
    sys.env.get("SPARK_GRAFT_BENCH_RECORD_BANDS").foreach { path =>
      if (failed == 0) {
        val warmSpread = names.map { n =>
          val all = timings(n)
          val ts = (if (all.length > 1) all.drop(1) else all).filter(_ >= 0)
          s"\"" + n + "\":[" + r3(ts.min) + "," + r3(ts.max) + "]"
        }.mkString("{", ",", "}")
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(warmSpread) finally w.close()
        System.err.println(s"[bench] recorded WARM bands for ${names.length} queries to $path")
      } else System.err.println(s"[bench] NOT recording bands: $failed queries failed")
    }
    // Guard mode: fail the run if any query's median drifted past its band.
    // WARM medians (round 16, advice): recorded bands are warm-only (sweep 1
    // dropped), so the guard's statistic must be too — at REPEATS=2 the
    // all-sweep median is the mean of cold and warm, and a query with a
    // large one-time artifact build (q174: ~106 s cold vs ~0.5 s warm) would
    // read ~53 s against a ~0.6 s warm ceiling: a guaranteed false
    // regression under a legal env setting. When only one sweep ran there
    // is no warm subset; that sweep is structurally cold, so band-guard
    // mode refuses rather than comparing cold observations to warm bands.
    val guardMedians = names.map(n => n -> r3(guardMedian(timings(n))))
    val regressed = sys.env.get("SPARK_GRAFT_BENCH_BANDS").map { path =>
      if (repeats < 2) {
        System.err.println("[bench] band-guard mode requires >= 2 sweeps " +
          "(sweep 1 is structurally cold; bands are warm-only) — guard skipped, run rejected")
        true
      } else {
      val bands = parseBands(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8))
      val regs = regressions(guardMedians, bands)
      regs.foreach { case (n, med, hi) =>
        System.err.println(f"[bench] REGRESSION $n: median $med%.3f s vs recorded band max $hi%.3f s")
      }
      val rj = regs.map { case (n, med, hi) => s"\"" + n + s"\":[$med,$hi]" }
        .mkString("{", ",", "}")
      val guard = s"""{"metric":"guard","regressions":$rj,"checked":${bands.size},"raw_total":$total,"normalized_total":$normTotal,"calib_secs":$calibsJson,"bands":"$path"}"""
      println(guard); System.err.println(guard)
      regs.nonEmpty
      }
    }.getOrElse(false)
    spark.stop()
    if (failed > 0) sys.exit(1)
    if (regressed) sys.exit(2)
  }

  /** Untimed warm-up before the first measured query: touches each table
    * once (footer cache, codegen JIT) and warms the noop write path.
    * Per-table try/catch: a broken/drifted table must poison ITS queries
    * (which then fail and are counted), not crash the JVM before anything
    * is timed — round 7's testdata regeneration killed the whole bench
    * exactly this way. The failure is reported on stderr.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        try Tables(spark, sfDir, t).count()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] warmup failed for table $t: ${e.getMessage}")
        }
      }
    // warm the noop WRITE path too (datasource lookup + commit-protocol
    // classloading): measured ~5s one-time cost that the alphabetically
    // first query would otherwise absorb
    spark.range(10).write.format("noop").mode("overwrite").save()
  }
}
