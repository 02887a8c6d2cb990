package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model tokenizer training (Kudo 2018, the
  * SentencePiece unigram algorithm — the subword learner behind
  * T5/ALBERT/XLNet-family tokenizers), completing the trained-tokenizer
  * family next to BPE ([[Bpe.train]], agglomerative) and WordPiece
  * ([[Bpe.trainWordPiece]], likelihood-greedy agglomerative): unigram is
  * the SUBTRACTIVE member — start from a large candidate vocabulary and
  * re-estimate piece probabilities so segmentation emerges from a
  * probability model rather than a merge order.
  *
  * This implementation is the hard-EM (Viterbi-EM) variant Kudo
  * describes: the E-step segments every word TYPE with the max-likelihood
  * (Viterbi) segmentation under the current piece log-probs, the M-step
  * re-estimates `p(piece) = (count + 1) / (total + |V|)` (add-one
  * smoothing keeps every candidate alive and every word segmentable —
  * single characters are always in the vocabulary, so the DP never dead
  * ends). Soft-EM's forward-backward expectations add nothing the
  * r6-snapped trajectory could replay cross-engine; the Viterbi variant
  * keeps every intermediate an exact integer count, which is what makes
  * the full training trajectory ORACLE-REPLAYABLE (q147's DuckDB oracle
  * unrolls seed selection, every DP cell, every backtrace step, and
  * every re-estimation, CTE-by-CTE).
  *
  * Training is corpus-scale ONLY ONCE (the [[Bpe]] contract): one pass
  * builds the word-type table, and each EM round is ONE distributed scan
  * of the Heaps-law-bounded type table — the Viterbi DP runs inside the
  * native codegen'd [[graft.functions.expr.UnigramSegF]] (hash-table
  * vocabulary lookups; the earlier `aggregate`-fold form scanned a map
  * literal linearly per candidate, unusable at production vocab sizes)
  * — followed by a ≤ |V|-row count collect
  * (the bounded-trainer pattern shared with k-means, logistic GD and the
  * MW reweighter). The M-step is |V|-row driver arithmetic. Encoding is
  * a dictionary equi-join against the segmented type table.
  *
  * Determinism: seed candidates rank by (count desc, piece asc) through
  * a `limit` (TakeOrderedAndProject, never a global sort); DP ties break
  * toward the SHORTEST last piece (strict `>` in a left fold over piece
  * lengths 1..P — equivalently: first index attaining the max, which is
  * what the oracle's GREATEST + first-match CASE computes); log-probs
  * are r6-snapped. The one cross-engine transcendental is libm `ln`
  * (both engines snap AFTER the log); since round 16 it is GUARDED, not
  * merely documented: [[lnR6Guarded]] measures each log's distance from
  * its r6 half-boundary and typed-rejects inside the guard window, so a
  * probability whose log could snap differently across libms fails
  * LOUDLY at training time instead of silently hash-mismatching. Every
  * other cross-engine value is exact: the ratio is one IEEE division of
  * integer-valued doubles (correctly rounded, bit-identical in both
  * engines), and the Viterbi DP is inductively bit-deterministic given
  * identical lp maps — both engines evaluate the same `dp[j−l] + lp`
  * double op on the same operands in the same cell order, so path sums
  * and ties agree exactly (no accumulated-noise tie flip is possible).
  */
object UnigramLm {

  /** Production tokenizer vocabularies are 8k–64k pieces; the cap exists
    * only to keep the bounded-trainer collects honest (≤ |V| rows each).
    */
  val MaxVocab = 65536
  val MaxWordLenCap = 64

  /** r6-snapped `ln` with the cross-engine boundary guard (round 16,
    * retiring the carried libm-`ln` snap risk). Both engines snap
    * `ln(ratio)` to the 1e-6 grid; their libms may disagree by ~1 ulp
    * (≤ ~2e-15 absolute for |ln| ≤ 30, i.e. ≤ ~2e-9 grid units after the
    * ×1e6), so a log landing essentially ON a half-boundary could snap to
    * different grid points. The guard measures the distance of
    * `ln(x)·1e6 + 0.5` from its nearest integer: if the engine observes
    * > 2e-8 grid units, the true distance exceeds ~1.4e-8 and the other
    * libm's value (within ~2e-9 of true) provably snaps to the SAME grid
    * point; inside the window the trainer fails loudly with a typed error
    * naming the offending probability. Fire probability ~4e-8 per piece
    * per round — never observed in 16 rounds of two-sf verifies; loud if
    * it ever is.
    */
  def lnR6Guarded(x: Double): Double = {
    val y = math.log(x)
    val f = y * 1e6 + 0.5
    val d = math.abs(f - math.rint(f))
    require(d > 2e-8,
      f"unigram-LM parity guard: ln($x%.17g) = $y%.17g lies $d%.3g grid " +
        "units from an r6 half-boundary (threshold 2e-8) — cross-engine " +
        "libm ln could snap it to different 1e-6 grid points; retrain with " +
        "a different vocabSize/corpus slice to shift the counts")
    math.floor(f) / 1e6
  }

  /** Candidate vocabulary `(piece, cnt)`: every substring of length
    * 1..`maxPieceLen` of every (≤ `maxWordLen`) word type, weighted by
    * occurrence × word frequency; ALL single characters are kept (the
    * feasibility floor), the multi-character tail is the top
    * `vocabSize − #chars` by (cnt desc, piece asc).
    */
  def seedVocab(wordTypes: DataFrame, maxPieceLen: Int, vocabSize: Int,
      maxWordLen: Int): DataFrame = {
    val wt = wordTypes.filter(length(col("word")) <= maxWordLen)
    val occ = wt
      .select(col("freq"), col("word"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("freq"), col("word"), col("s"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("s") + 1)))
          .as("l"))
      .select(col("word").substr(col("s"), col("l")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint(true)
    val chars = occ.filter(length(col("piece")) === 1)
    val nChars = chars.count()
    require(nChars < vocabSize,
      s"vocabSize $vocabSize must exceed the $nChars distinct characters")
    val multis = occ.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece"))
      .limit((vocabSize - nChars).toInt)
    chars.union(multis)
  }

  /** The word-type table with a `pieces` column: the Viterbi segmentation
    * of each (≤ `maxWordLen`) word under log-probs `lp` — dp[j] = max over
    * piece lengths l of dp[j−l] + lp(word[j−l+1..j]), strict `>` so ties
    * keep the shortest last piece, backtrace pieces last-first, plus the
    * word's Viterbi log-likelihood as `score` (what [[scoreCounts]]'s
    * perplexity estimate consumes).
    *
    * The DP runs in the native codegen'd
    * [[graft.functions.expr.UnigramSegF]]: the original `aggregate`-fold
    * form carried the vocabulary as a map LITERAL, and `element_at` on a
    * literal map is a linear key scan — O(|V|) per DP candidate, which at
    * a production vocabulary (8k+) made each EM round quadratic-ish in
    * vocab size. The expression's hash table restores O(1) lookups with
    * the identical cell-by-cell arithmetic (the q147 oracle still unrolls
    * every DP cell and matches).
    */
  def segmented(wt: DataFrame, lp: Map[String, Double],
      maxPieceLen: Int): DataFrame = {
    require(lp.nonEmpty && lp.size <= MaxVocab,
      s"vocab size must be in [1, $MaxVocab], got ${lp.size}")
    val seg = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expr.UnigramSegF(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("word")),
        lp, maxPieceLen))
    wt.withColumn("seg", seg)
      .withColumn("pieces", col("seg.pieces"))
      .withColumn("score", col("seg.score"))
      .drop("seg")
  }

  /** Trains `iters` hard-EM rounds; returns the full trajectory
    * `(iter, piece, prob)` — iter 0 is the smoothed seed estimate — and
    * the final log-prob map for [[encodeCounts]]/[[segmented]].
    */
  def train(wordTypes: DataFrame, maxPieceLen: Int = 4, vocabSize: Int = 64,
      iters: Int = 2, maxWordLen: Int = 16)
      : (DataFrame, Map[String, Double]) = {
    val spark = wordTypes.sparkSession
    import spark.implicits._
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1, 8], got $maxPieceLen")
    require(vocabSize >= 2 && vocabSize <= MaxVocab,
      s"vocabSize must be in [2, $MaxVocab], got $vocabSize")
    require(iters >= 0 && iters <= 64, s"iters must be in [0, 64], got $iters")
    require(maxWordLen >= maxPieceLen && maxWordLen <= MaxWordLenCap,
      s"maxWordLen must be in [$maxPieceLen, $MaxWordLenCap], got $maxWordLen")
    val wt = wordTypes.select(col("word"), col("freq"))
      .filter(length(col("word")) <= maxWordLen)
      .localCheckpoint(true)
    val seed = seedVocab(wt, maxPieceLen, vocabSize, maxWordLen)
      .collect().map(r => (r.getString(0), r.getLong(1))) // ≤ vocabSize rows
    val piecesSorted = seed.map(_._1).sorted.toIndexedSeq
    val v = seed.length
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def mstep(counts: Map[String, Long])
        : (Map[String, Double], Map[String, Double]) = {
      val tot = counts.values.sum
      val ratio = piecesSorted.map(p =>
        p -> ((counts.getOrElse(p, 0L) + 1.0) / (tot + v))).toMap
      // ln through the boundary guard (round 16); the ratio itself is one
      // IEEE division of integer-valued doubles — bit-identical in both
      // engines — so its snap needs no guard
      (ratio.map { case (p, x) => p -> lnR6Guarded(x) },
        ratio.map { case (p, x) => p -> r6(x) })
    }
    val traj = Seq.newBuilder[(Int, String, Double)]
    var (lp, prob) = mstep(seed.toMap)
    piecesSorted.foreach(p => traj += ((0, p, prob(p))))
    var t = 1
    while (t <= iters) {
      val counts = segmented(wt, lp, maxPieceLen)
        .select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ |V| rows
      val mp = mstep(counts)
      lp = mp._1; prob = mp._2
      piecesSorted.foreach(p => traj += ((t, p, prob(p))))
      t += 1
    }
    (traj.result().toDF("iter", "piece", "prob"), lp)
  }

  /** Per-row piece counts under a trained model: `(idCol, n_pieces)`.
    * Distinct words segment once (the dictionary); each document then
    * pays an equi-join and a sum — the [[Bpe.encodeCounts]] shape. Words
    * longer than `maxWordLen` fall back to one piece per character (the
    * training cutoff's documented encode behavior).
    */
  def encodeCounts(docs: DataFrame, lp: Map[String, Double], idCol: String,
      textCol: String, maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val words = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val types = words.select(col("word")).distinct()
    val short = segmented(
      types.filter(length(col("word")) <= maxWordLen), lp, maxPieceLen)
      .select(col("word"), size(col("pieces")).cast("long").as("np"))
    val long = types.filter(length(col("word")) > maxWordLen)
      .select(col("word"), length(col("word")).cast("long").as("np"))
    val dict = short.union(long)
    // The dictionary join's strategy is DECLARED, not left to static size
    // estimates: the corpus side arrives through arbitrary caller frames
    // (a localCheckpoint LogicalRDD under-reports and Catalyst then
    // broadcast the 40M-row WORDS side as a 3.7 GiB disk-spilled hashed
    // relation — measured, 86 s of a 94 s 1M-doc encode). The shuffle_hash
    // hint on the type-bounded dict makes it the build side with no
    // sort and no corpus broadcast at any scale; AQE still upgrades to a
    // dict broadcast when the runtime shuffle turns out tiny.
    words.join(dict.hint("shuffle_hash"), "word")
      .groupBy(col(idCol))
      .agg(sum(col("np")).as("n_pieces"))
  }

  /** Per-row piece counts AND summed Viterbi log-likelihood under a
    * trained model: `(idCol, n_pieces, lp_sum)` — the inputs to a
    * CCNet-style perplexity estimate (Wenzek et al. 2020: score each
    * document under a corpus LM, bucket into head/middle/tail).
    *
    * Same dictionary shape as [[encodeCounts]] — distinct words segment
    * once, documents pay an equi-join and a sum — except each word type
    * carries its r6-snapped path log-likelihood. The per-document sum is
    * RE-snapped to the same 1e-6 grid: the addends are grid multiples,
    * so the true sum is one too, and the engine-dependent summation
    * order perturbs it by ≪ 0.5e-6 — the re-snap therefore lands both
    * engines on the bit-identical double, and every downstream op
    * (ratios, r4, tile ordering) agrees exactly. Snapping only at r4
    * was measurably NOT enough: a sum landing within a ulp of an r4
    * half-grid boundary rounded differently per engine (caught at
    * sf0.001, doc 439). Words longer than `maxWordLen` have no Viterbi
    * path under the training cutoff and are EXCLUDED from the estimate
    * (documented modeling choice — the inner dictionary join drops them
    * on both engines).
    */
  def scoreCounts(docs: DataFrame, lp: Map[String, Double], idCol: String,
      textCol: String, maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val words = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val types = words.select(col("word")).distinct()
      .filter(length(col("word")) <= maxWordLen)
    val dict = segmented(types, lp, maxPieceLen)
      .select(col("word"), size(col("pieces")).cast("long").as("np"),
        graft.queries.Parity.r6(col("score")).as("sc"))
    // declared join strategy — see encodeCounts' comment (the corpus side
    // must never become the broadcast build through a lying estimate)
    words.join(dict.hint("shuffle_hash"), "word")
      .groupBy(col(idCol))
      .agg(sum(col("np")).as("n_pieces"),
        graft.queries.Parity.r6(sum(col("sc"))).as("lp_sum"))
  }
}
