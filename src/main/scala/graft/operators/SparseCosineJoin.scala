package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document-to-document cosine similarity in the sparse TF-IDF space,
  * computed document-at-a-time through a postings self-join — the exact
  * lexical counterpart to the embedding-space [[SemDeDup]]/[[Ann]] family
  * and the pairwise form of q40's per-document TF-IDF weights.
  *
  * Pipeline: tokenize → tf per (doc, term) → df per term → weight
  * `tf · ln(n_docs / df)` → self-join postings on term (id_a < id_b) →
  * `cos = Σ w_a·w_b / (‖a‖·‖b‖)`. Everything is two hash aggregates, one
  * equi-join on term, and two id-keyed norm joins — no all-pairs product
  * anywhere.
  *
  * Scale posture: the term self-join's volume is Σ_t df(t)², so ubiquitous
  * terms dominate cost while contributing ~zero weight (idf → 0 as
  * df → n). `maxDfFrac` drops terms with df > frac·n_docs from the vector
  * space BEFORE the join — the standard stop-term cut that turns the sum
  * into one over rare terms only (on Zipfian corpora the bulk of join
  * volume lives in a handful of stop terms; the spec measures the
  * reduction). Norms are computed over the KEPT terms, so the capped
  * result is the exact cosine of the capped space, not an approximation
  * of the uncapped one.
  *
  * DEFAULT = [[AutoDf]]: the df cap is derived from corpus stats, in-plan,
  * as `df ≤ max(256, min(n/2, 64·√n))` —
  *   - `256` floor: a corpus where every term has df ≤ 256 has trivially
  *     bounded join volume (≤ 256·Σdf), so corpora under 512 documents are
  *     NEVER pruned and stay exact — which also keeps this repo's
  *     adversarial 31-word synthetic vocabulary (where every term is a
  *     majority term, same caveat as [[SetSimilarityJoin]]) exact on the
  *     bounded slices the oracle queries use (q117, 60 docs);
  *   - `n/2`: a term in more than half the documents discriminates less
  *     than one bit (idf < ln 2) and is a stop term by the majority rule —
  *     this binds for 512 ≤ n ≤ 16384;
  *   - `64·√n`: a sublinearly-growing absolute cap that bounds join volume
  *     at Σ_{kept} df² ≤ 64·√n·Σdf — subquadratic in corpus size where the
  *     uncapped worst case is n·Σdf; binds above n = 16384, so the kept-df
  *     FRACTION shrinks as the corpus grows, mirroring how a fixed stopword
  *     list covers an ever-larger share of join volume on real text.
  * The uncapped plan is still available explicitly (`maxDfFrac = 1.0`);
  * the auto default's stop-term pruning is spec-tested on a Zipfian corpus.
  */
object SparseCosineJoin {

  /** Sentinel for `maxDfFrac`: derive the df cap from corpus stats (see
    * class doc). This is the default — the uncapped Σdf² self-join must be
    * an explicit opt-in, never what a caller gets by not thinking about it. */
  val AutoDf: Double = Double.NaN

  /** Scored pairs (id_a < id_b) sharing ≥ 1 kept term.
    *
    * Head-term skew (round-9): ALL df² candidate pairs of one term share
    * one join key, and AQE's skew-join split cannot help — it triggers on
    * partition INPUT bytes (spark.sql.adaptive.skewJoin thresholds), and a
    * hot term's input is df posting rows (kilobytes) while its OUTPUT is
    * df² pairs; the explosion is invisible to input-size heuristics (the
    * `sparse_skew` rehearsal probe measures exactly this). Terms with
    * df > `saltDfAbove` are therefore SALTED: the a-side gets
    * `salt = hash(id) mod S`, the b-side is replicated to every salt, and
    * the join key becomes (t, salt) — each (a, b) pair still meets exactly
    * once per shared term, so salted sub-blocks compose exactly and the
    * result is row-identical to the unsalted plan. `S = min(⌈(df/saltDfAbove)²⌉,
    * 256)` bounds per-key candidate volume at max(saltDfAbove², df²/256)
    * while keeping b-side replication ≤ 256·df rows.
    *
    * @param minCos    emit only pairs with cosine ≥ this (0.0 = all
    *                  sharing a term); applied on the UNROUNDED value
    * @param maxDfFrac keep terms with df ≤ maxDfFrac·n_docs; [[AutoDf]]
    *                  (default) derives the cap from corpus stats
    * @param saltDfAbove terms with df above this get a salted join key
    *                  (see above); `Int.MaxValue` disables salting
    * @return (id_a, id_b, cos) — cos unrounded; callers round for parity
    */
  def pairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCos: Double = 0.0,
      maxDfFrac: Double = AutoDf,
      saltDfAbove: Int = 4096): DataFrame = {
    require(maxDfFrac.isNaN || (maxDfFrac > 0 && maxDfFrac <= 1),
      s"maxDfFrac must be in (0, 1] or SparseCosineJoin.AutoDf, got $maxDfFrac")
    require(minCos >= 0 && minCos <= 1, s"minCos must be in [0, 1], got $minCos")
    require(saltDfAbove >= 1, s"saltDfAbove must be >= 1, got $saltDfAbove")
    val tf = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // df cap, computed in-plan from the broadcast 1-row stats (no collect)
    val dfCap =
      if (maxDfFrac.isNaN)
        greatest(lit(256.0),
          least(col("n_docs") / 2.0, lit(64.0) * sqrt(col("n_docs"))))
      else lit(maxDfFrac) * col("n_docs")
    // The weighted postings are read by FOUR consumers below (both join
    // sides, which differ by the salt shape so AQE cannot reuse one
    // exchange, and the norm aggregate joined back twice) — unchecked, the
    // whole explode→tf→df→join pipeline re-executes per consumer (measured
    // 3-4x at sf0.1: q117 0.85 -> 0.17 s warm). LAZY localCheckpoint: the
    // first action materializes the postings once (MEMORY_AND_DISK, the
    // same rows the pair join shuffles anyway) and every consumer reads
    // the blocks. Lazy does NOT make plan-building job-free: under AQE
    // localCheckpoint(eager = false) still calls queryExecution.toRdd,
    // which runs every upstream shuffle stage, so each call of this
    // method runs Spark jobs. That is why the SQL TVF defers its builder
    // to execution (EXPLAIN must not run jobs). Same non-reliable-storage
    // caveat as the salted BandedSelfJoin branch: an executor loss fails
    // the job rather than recomputing lineage.
    val w = tf.join(df, "t")
      .crossJoin(broadcast(stats))
      .filter(col("df") <= dfCap)
      .select(col("id"), col("t"), col("df"),
        (col("tf") * log(col("n_docs") / col("df"))).as("w"))
      .localCheckpoint(false)
    val norms = w.groupBy(col("id")).agg(sqrt(sum(col("w") * col("w"))).as("nm"))
    // per-term salt count (1 = unsalted); see the head-term skew note above
    val nSalt = least(
      ceil(pow(col("df") / lit(saltDfAbove.toDouble), 2.0)),
      lit(256.0)).cast("int")
    val sideA = w.select(col("id").as("id_a"), col("t"), col("w").as("w_a"),
      pmod(xxhash64(col("id")), greatest(nSalt, lit(1))).cast("int").as("s"))
    val sideB = w.select(col("id").as("id_b"), col("t"), col("w").as("w_b"),
      explode(sequence(lit(0), greatest(nSalt, lit(1)) - 1)).as("s"))
    val dotp = sideA
      .join(sideB, Seq("t", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w_a") * col("w_b")).as("dp"))
    dotp
      .join(norms.select(col("id").as("id_a"), col("nm").as("nm_a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nm").as("nm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("dp") / (col("nm_a") * col("nm_b"))).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
