package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
  * community detection as a declarative iteration, the clustering
  * counterpart to [[PageRank]] on the graph side of the curation stack
  * (communities over co-purchase / co-click / near-dup graphs are a
  * standard grouping signal where connected components are too coarse:
  * CC merges everything touching, LPA splits by local majority).
  *
  * Semantics (deterministic, oracle-replayable — q140): labels start as
  * each node's own id; every round, each node adopts the MAJORITY label
  * among its neighbors' previous-round labels, ties broken by the
  * SMALLEST label string; nodes with no in-neighbors keep their label.
  * Synchronous (all nodes update from the same snapshot — the only
  * engine-independent schedule; asynchronous LPA's result depends on
  * visit order, which no cross-engine contract can pin).
  *
  * Shape per iteration: one |E|-row equi-join on dst (labels attach to
  * edge targets), one hash aggregate to (node, label) counts — at most
  * deg(v) rows per node — and the per-node argmax as a rank-1 window
  * (partitionBy node, orderBy count desc/label asc). The window is
  * scale-safe: Spark 4 plans WindowGroupLimit PARTIAL below the
  * exchange (the round-9 finding, BASELINE part 3), so each map task
  * ships at most one candidate row per (node, partition), not the full
  * count table. `localCheckpoint` truncates the iterative plan per the
  * repo rule. Total: iters × (|E| join + |E| aggregate) — the same
  * 100 TB family as PageRank.
  */
object LabelPropagation {

  /** @param undirected mirror every edge so propagation flows both ways
    * @return (id, lbl) — each node's community label after `iters`
    *   synchronous rounds.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      undirected: Boolean = true): DataFrame = {
    require(iters >= 0 && iters <= 64, s"iters in [0, 64], got $iters")
    val base = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val e = (if (undirected)
        base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      else base)
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    // per-round checkpoints are LAZY: the logical plan is truncated either
    // way, and deferring materialization removes one blocking driver job
    // per round (the round-9 PageRank finding)
    var lab = nodes.select(col("id"), col("id").as("lbl"))
      .localCheckpoint(false)
    var t = 0
    while (t < iters) {
      // a label flows ALONG an edge: the src's previous label reaches the
      // dst, so labels attach on src and the majority is taken per dst
      val cnts = e.join(lab.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("c").desc, col("lbl"))
      val winners = cnts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("id"), col("lbl").as("new_lbl"))
      lab = lab.join(winners, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
      t += 1
    }
    lab
  }
}
