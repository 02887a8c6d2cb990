package graft.operators

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 32-bit SimHash document fingerprinting.
  *
  * simhash(doc) = for each bit b: sign of Σ over distinct tokens of
  * (bit b of h60(token) ? +1 : -1); near-duplicates are pairs with small
  * Hamming distance between fingerprints.
  *
  * Scale design: the fingerprint is a single pure-expression fold over the
  * token array (aggregate + zip_with) — one pass per row, no explode, no
  * shuffle, stays in whole-stage codegen. Pairing then groups/joins on the
  * 32-bit value (exact dups) or on bit-band substrings (near dups) — both
  * key-equality joins, never all-pairs. Integer bit ops (shiftright/
  * shiftleft) match DuckDB's >>/<< exactly, so the operator is
  * oracle-checked end-to-end (queries.Dedup q31).
  */
object SimHash {

  val Bits = 32

  /** SimHash over an array of tokens (deduplicated internally). Since
    * round 3 this is the native fused expression
    * ([[graft.functions.expr.SimHash32F]]) — bit-identical to the
    * declarative double fold it replaced (`DedupSpec.simhashHof`,
    * equality-tested in DedupSpec), with one 32-int state loop instead of
    * a fresh count array per token.
    */
  def simhash(toks: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expr.SimHash32F(
        org.apache.spark.sql.graftbridge.Bridge.expression(toks)))

  def simhashOfText(text: Column): Column = simhash(TextHash.tokens(text))

  /** Hamming distance between two fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** The band substring of a fingerprint: bits [b*width, (b+1)*width). */
  private def bandKey(fp: Column, b: Column, width: Int): Column =
    call_function("shiftright", fp, b * width).bitwiseAND(lit((1L << width) - 1))

  /** Banded near-dup pairing — the UNBOUNDED scale path the all-pairs
    * oracle form (queries.Dedup q31) is the bounded twin of.
    *
    * Split the 32-bit fingerprint into `bands` contiguous bit ranges; by
    * pigeonhole, any pair within Hamming distance < bands agrees on at
    * least one whole band, so candidates are discovered by an equi-join on
    * (band, bandKey) — shuffle on the band key, never all-pairs — and the
    * exact Hamming check then verifies. Complete for maxHamming <= bands-1
    * (DedupSpec proves equality against the all-pairs form).
    *
    * `maxBucket` is the same skew guard as MinHashLSH.candidatePairs: at
    * corpus scale, degenerate fingerprints (e.g. the all-zero fingerprint of
    * token-free documents) would otherwise put one quadratic bucket on a
    * single reducer. Disabled when <= 0.
    *
    * `saltAbove` spreads each surviving bucket's pair-verify over up to 64
    * salted reducer keys ([[BandedSelfJoin]]'s doc): with a cap alone, one
    * 1024-row capped bucket still runs ~cap²/2 Hamming checks in ONE task —
    * the measured 14 s straggler of the 3M-conversation rehearsal. Same
    * pair set, opt-in (0 = off).
    *
    * `repOverCap` swaps the over-cap DROP for representative stars
    * ([[BandedSelfJoin.pairs]]'s doc) — linear cost, recall preserved
    * through the verify + cluster action; opt-in, mutually exclusive with
    * `saltAbove`.
    */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 4,
      maxHamming: Int = 3,
      maxBucket: Int = 0,
      saltAbove: Int = 0,
      repOverCap: Boolean = false): DataFrame = {
    require(Bits % bands == 0, s"bands must divide $Bits, got $bands")
    require(maxHamming < bands,
      s"banded pairing is only complete for maxHamming < bands ($maxHamming >= $bands)")
    val width = Bits / bands
    // (id, fp, band, key) — fp rides along so the verify step needs no
    // join back to the corpus; bucket cap + self-join scaffold shared with
    // MinHashLSH via BandedSelfJoin (no cache, AQE exchange reuse).
    val keyed = df
      .select(col(idCol).as("id"), simhashOfText(col(textCol)).as("fp"))
      .select(col("id"), col("fp"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => bandKey(col("fp"), b, width))).as(Seq("band", "key")))
    BandedSelfJoin.pairs(keyed, maxBucket, saltAbove,
        repOverCap = repOverCap && maxBucket > 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.fp"), col("b.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
