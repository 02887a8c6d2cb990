package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative source-mixture reweighting by multiplicative weights — the
  * DoReMi-shaped mixture tuner (Xie et al. 2023 tune domain weights by
  * exponentiated gradient on per-domain excess loss; Arora–Hazan–Kale 2012
  * is the underlying MW method). Where q74 computes the STATIC mixture
  * (token shares + flatten-to-uniform weights), this trains the mixture:
  * starting from the baseline token shares, each round multiplies every
  * source's weight by `1 + eta * (m_s - mbar)` — its per-source metric's
  * excess over the current WEIGHTED mean — clips at `cap` (no source may
  * dominate the mix) and renormalizes. The rational `1 + eta*x` update is
  * the MW variant chosen deliberately over `exp(eta*x)`: libm exp is not
  * bit-reproducible across engines, plain arithmetic is, so the whole
  * trajectory replays exactly in DuckDB (q134).
  *
  * Determinism: weights are r6-snapped after every normalize (the logistic
  * -GD precedent: the snap grid dwarfs the ulp noise of summing ≤ |S|
  * doubles in engine-specific order); the metric must be a snapped value
  * in [0, 1] (a rate, e.g. the trained classifier's per-source pass rate)
  * so `1 + eta*(m - mbar)` stays non-negative for eta <= 1. At the
  * eta = 1 extreme that factor can be exactly 0 (m = 0 with mbar = 1),
  * and the r6 snap can floor a tiny weight to the grid's 0 — either
  * would park a source at weight 0 forever (a multiplicative update
  * cannot revive it). Each post-snap weight is therefore floored at
  * 1e-6 (the snap grid itself), mirrored verbatim in the DuckDB oracle:
  * weights stay positive by construction, at the cost of the per-round
  * sum deviating from 1 by at most |S|·1e-6.
  *
  * 100 TB posture: ONE corpus aggregate produces the |S|-row per-source
  * frame; all T iterations run on driver-held |S|-row state (the
  * bounded-trainer pattern — |S| is the source/domain count, tens to
  * thousands, never corpus-sized). Cost is corpus-scan + O(T*|S|) flops.
  */
object MixtureReweight {

  val MaxSources = 65536

  /** @param perSource one row per source: (`srcCol`, `w0Col` baseline
    *   weight summing to ~1, `mCol` metric in [0, 1], both pre-snapped)
    * @return the full trajectory (iter, source, weight): iter 0 is the
    *   baseline verbatim, iters 1..`iters` the clipped MW updates,
    *   each weight r6-snapped after its normalize.
    */
  def reweight(perSource: DataFrame, srcCol: String, w0Col: String,
      mCol: String, iters: Int, eta: Double, cap: Double): DataFrame = {
    val spark = perSource.sparkSession
    import spark.implicits._
    require(iters >= 1 && iters <= 1024, s"iters in [1, 1024], got $iters")
    require(eta > 0 && eta <= 1.0, s"eta in (0, 1], got $eta")
    require(cap > 0 && cap <= 1.0, s"cap in (0, 1], got $cap")

    val rows = perSource
      .select(col(srcCol).cast("string"), col(w0Col).cast("double"),
        col(mCol).cast("double"))
      .collect()
    require(rows.nonEmpty && rows.length <= MaxSources,
      s"source count must be in [1, $MaxSources], got ${rows.length}")
    // driver folds run in source order; DuckDB sums in its own order —
    // parity rides on the r6 snap, as in every trainer sum in the repo
    val sorted = rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    sorted.foreach { case (s, w0, m) =>
      require(m >= 0.0 && m <= 1.0, s"metric for '$s' outside [0,1]: $m")
      require(w0 > 0.0, s"baseline weight for '$s' must be positive: $w0")
    }

    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

    val sources = sorted.map(_._1)
    val metric = sorted.map(_._3)
    var w = sorted.map(_._2)
    val traj = Seq.newBuilder[(Int, String, Double)]
    sources.indices.foreach(i => traj += ((0, sources(i), w(i))))
    var t = 1
    while (t <= iters) {
      val mbar = w.indices.foldLeft(0.0)((acc, i) => acc + w(i) * metric(i))
      val clipped = w.indices.map(i =>
        math.min(w(i) * (1.0 + eta * (metric(i) - mbar)), cap))
      val tot = clipped.foldLeft(0.0)(_ + _)
      // post-snap floor at the snap grid: no source can be zeroed (and
      // thereby killed) by the eta=1 edge or the snap itself
      w = w.indices.map(i => math.max(r6(clipped(i) / tot), 1e-6)).toArray
      sources.indices.foreach(i => traj += ((t, sources(i), w(i))))
      t += 1
    }
    traj.result().toDF("iter", "source", "weight")
  }
}
