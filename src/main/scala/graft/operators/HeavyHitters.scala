package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Heavy-hitter tokens at cardinality beyond memory — the two-pass exact
  * top-K pattern built on a mergeable Misra–Gries summary (Misra & Gries
  * 1982; mergeability per Agarwal, Cormode et al. 2013, "Mergeable
  * Summaries").
  *
  * Why it exists: a plain `groupBy(token).count.orderBy.limit(k)` is
  * exact but its exchange carries one row PER DISTINCT TOKEN. On web-scale
  * text the distinct-token universe (typos, URLs, numbers, code
  * identifiers) runs to billions — the shuffle and the final aggregate
  * state are both cardinality-sized. The sketch bounds per-partition state
  * at `capacity` entries and the exchange at `capacity · partitions`
  * rows, INDEPENDENT of token cardinality:
  *
  *   pass 1 — [[MisraGries]] typed Aggregator: map-side partials of ≤
  *   `capacity` (token, weight) entries, merged associatively (sum counts,
  *   then subtract the (capacity+1)-th largest and drop ≤ 0 — the standard
  *   mergeable-summary step that preserves the error bound). Guarantee:
  *   every token with true frequency > n/(capacity+1) SURVIVES; estimates
  *   undercount by at most n/(capacity+1).
  *   pass 2 — exact recount of ONLY the surviving candidates (a broadcast
  *   membership filter + a hash aggregate over ≤ capacity distinct keys),
  *   then exact top-K among them.
  *
  * The output is therefore EXACT (not approximate) whenever the true
  * K-th frequency exceeds n/(capacity+1) — the condition under which the
  * sketch provably retains all true top-K tokens. Size `capacity` from
  * the skew you expect (capacity ≥ n/f_K); the spec asserts the guarantee
  * and q126 pins the composition against a plain exact oracle on the
  * testdata corpus, where top-token mass is far above the bound.
  *
  * Measured trade (BASELINE.md, 1M docs × 40 tokens, 100k-term vocab):
  * at a vocabulary that FITS, the plain groupBy wins — 2.2 s vs 7.0 s —
  * because 100k distinct keys is trivial for a hash aggregate and
  * capacity·partitions already equals the vocab. Use this path when the
  * distinct-token universe dwarfs executor memory and capacity·partitions
  * (billions of typos/URLs/identifiers at web scale); use the plain
  * aggregate when it fits. Both produce identical results in the
  * guarantee regime (asserted at 1M rows in the rehearsal).
  */
object HeavyHitters {

  /** Mergeable Misra–Gries summary over strings. Buffer is the summary
    * map; both `reduce` and `merge` keep it ≤ `capacity` entries, so
    * map-side combine bounds every partial regardless of input size. */
  final class MisraGries(capacity: Int)
    extends Aggregator[String, Map[String, Long], Seq[String]] {
    require(capacity >= 1 && capacity <= 100000,
      s"capacity must be in [1, 100000], got $capacity")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
      b.get(tok) match {
        case Some(c) => b.updated(tok, c + 1)
        case None if b.size < capacity => b.updated(tok, 1L)
        case None => // decrement-all: drop zeros, the classic MG step
          b.view.mapValues(_ - 1).filter(_._2 > 0).toMap
      }

    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val sum = y.foldLeft(x) { case (acc, (t, c)) =>
        acc.updated(t, acc.getOrElse(t, 0L) + c)
      }
      if (sum.size <= capacity) sum
      else {
        // subtract the (capacity+1)-th largest count from everything and
        // drop non-positives — keeps ≤ capacity entries, error adds
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
        sum.view.mapValues(_ - cut).filter(_._2 > 0).toMap
      }
    }

    override def finish(b: Map[String, Long]): Seq[String] = b.keys.toSeq.sorted

    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  /** Candidate heavy-hitter tokens of `tokens` (single string column) —
    * pass 1 only. Bounded driver materialization: ≤ `capacity` strings
    * (the trainer-collect family). */
  def candidates(tokens: DataFrame, tokenCol: String, capacity: Int): Seq[String] = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col(tokenCol)).as[String]
      .select(udaf(new MisraGries(capacity)).apply(col(tokenCol)))
      .as[Seq[String]].head()
  }

  /** Exact top-K tokens by count, computed with bounded state: sketch
    * candidates, exact recount of candidates only, top-K with a
    * deterministic (count desc, token asc) order. Exact iff the true K-th
    * frequency > n/(capacity+1) (see class doc).
    */
  def exactTopK(docs: DataFrame, textCol: String, k: Int,
      capacity: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val toks = docs
      .select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val cand = candidates(toks, "token", capacity)
    // Membership as a broadcast LEFT SEMI join, not isin(cand: _*): at the
    // 100k capacity bound an In-list embeds 100k string literals in the
    // plan (analysis/codegen footprint linear in capacity); a broadcast
    // semi-join keeps the plan constant-size and the probe is the same
    // hashed lookup on the scan side.
    val spark = docs.sparkSession
    import spark.implicits._
    val candDf = spark.createDataset(cand).toDF("token")
    toks.join(broadcast(candDf), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
  }
}
