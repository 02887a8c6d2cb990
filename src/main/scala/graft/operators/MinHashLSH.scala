package graft.operators

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate candidate generation
  * (shingle → minhash signature → band → bucket join).
  *
  * Scale design: the only shuffle is the self-join on (band, bandHash) —
  * candidates are discovered by key equality, never by all-pairs compare, so
  * cost is O(sum of bucket sizes²) instead of O(n²). Signatures are pure
  * Catalyst higher-order-function chains (transform/aggregate) — codegen'd,
  * no UDF, no row blowup. At 100 TB: repartition by bandHash, and skewed
  * "mega-buckets" (degenerate near-constant docs) should be capped with a
  * per-bucket count filter before the join (see candidatePairs' maxBucket).
  *
  * Hash parity: h60 is reproducible in DuckDB SQL, so a bounded form of the
  * whole pipeline is oracle-checked end-to-end (queries.Dedup q30).
  */
final case class MinHashLSH(
    numHashes: Int = 12,
    numBands: Int = 3,
    shingleSize: Int = 1,
    oracleParityHash: Boolean = false) {

  require(numHashes % numBands == 0, "numBands must divide numHashes")
  val rowsPerBand: Int = numHashes / numBands

  def shingles(text: Column): Column = TextHash.wordShingles(text, shingleSize)

  /** k-value MinHash signature as ONE aggregate pass over the shingle array
    * carrying a k-element minimum accumulator — the `transform(hashIdx, j =>
    * array_min(transform(shingles, ...)))` formulation re-evaluates the
    * shingle expression k times per row (Catalyst does not CSE across
    * lambda bodies), which measured 60x slower at sf0.1.
    *
    * Scale path: each shingle string is hashed ONCE (xxhash64 over the
    * string), and the k values derive from re-hashing that 8-byte value
    * seeded by the function index — k fixed-width long hashes per shingle
    * instead of k variable-length string hashes. (A multiply-add family
    * would be cheaper still, but ANSI mode makes wrapping `*` throw.)
    * Since round 3 the whole fold is the native codegen'd `minhash_sig`
    * expression (functions.expr.MinHashSigF) — bit-identical to the HOF
    * chain it replaced (equality-tested in DedupSpec), but one tight loop
    * instead of a per-shingle accumulator-array allocation.
    * `oracleParityHash=true` switches to the md5-hex h60(j + ":" + shingle)
    * per function that DuckDB can reproduce, for the hash-checked bounded
    * form (queries.Dedup q30).
    */
  def signature(text: Column): Column =
    if (oracleParityHash)
      aggregate(
        shingles(text),
        array_repeat(lit(Long.MaxValue), numHashes),
        (acc, s) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
          (m, j) => least(m, TextHash.h60(concat(j.cast("string"), lit(":"), s)))))
    else {
      // Bridge-wrapped, not call_function: the registry form would make
      // signature() fail on any session that had not run
      // GraftFunctions.register first (hidden precondition)
      import org.apache.spark.sql.graftbridge.Bridge
      Bridge.column(graft.functions.expr.MinHashSigF(
        Bridge.expression(shingles(text)),
        org.apache.spark.sql.catalyst.expressions.Literal(numHashes)))
    }

  /** Bucket keys that contentless documents land in and must never join:
    * the band hashes of the empty-shingle-set signature (all Long.MaxValue),
    * plus md5("") — a NULL text's signature is NULL, and concat_ws skips the
    * null array, collapsing every band hash to md5 of the empty string.
    */
  lazy val emptySignatureBandHashes: Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val sig = Seq.fill(numHashes)(Long.MaxValue)
    (0 until numBands).map { b =>
      md5hex(sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString(","))
    } :+ md5hex("")
  }

  /** md5 bucket key of 0-based band `b` of a signature. */
  def bandHash(sig: Column, b: Column): Column =
    md5(concat_ws(",",
      transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
        x => x.cast("string"))))

  /** Distinct candidate pairs (idA < idB) sharing at least one band bucket.
    *
    * `maxBucket` guards against degenerate mega-buckets: buckets with more
    * than `maxBucket` members are dropped (at scale a near-constant document
    * cluster would otherwise make one reducer quadratic). Disabled when <= 0.
    *
    * `repOverCap` swaps the over-cap DROP for representative stars
    * ([[BandedSelfJoin.pairs]]'s doc): linear cost in the degenerate
    * bucket, recall preserved through the verify + cluster action. Opt-in
    * so declared oracle-checked queries stay byte-stable.
    */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxBucket: Int = 0,
      repOverCap: Boolean = false,
      numReps: Int = 1): DataFrame = {
    // Zero-shingle documents (shorter than the shingle width) all share the
    // fold's initial accumulator signature and would bucket together; their
    // band hashes are the CONSTANTS below, so excluding them costs one
    // not-in filter instead of re-evaluating the shingle expression per row.
    // The signature is materialized as an attribute BELOW the Generate and
    // the per-band md5 computes above it — the single-projection
    // posexplode of per-band hashes of signature(...) evaluated the signature
    // once PER BAND (3x the dominant cost; lambdas defeat CSE). The bucket
    // cap + self-join scaffold (no cache, AQE exchange reuse) is shared
    // with SimHash in BandedSelfJoin.
    val keyed = bandIndex(df, idCol, textCol)
    BandedSelfJoin.pairs(keyed, maxBucket,
        repOverCap = repOverCap && maxBucket > 0, numReps = numReps)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** (id, band, key) band-bucket rows for every document — the persistable
    * LSH INDEX of a corpus. Write it once (parquet, partitioned/bucketed by
    * (band, key)) and dedup every incoming batch against it via
    * [[candidatesAgainstIndex]] without re-reading the corpus: the
    * build-once/search-many lifecycle that makes continuous ingestion
    * affordable at 100 TB (re-running candidatePairs over corpus+batch
    * re-hashes the whole corpus per batch).
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), signature(col(textCol)).as("sig"))
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .select(col("id"), col("band"), bandHash(col("sig"), col("band")).as("key"))
      .filter(!col("key").isin(emptySignatureBandHashes: _*))

  /** Near-dup candidates of a NEW batch against an existing [[bandIndex]]:
    * one equi-join on (band, key) — cost scales with the batch size and the
    * buckets it touches, never with corpus size. Returns distinct
    * (new_id, index_id) pairs; self-matches (same id on both sides, e.g.
    * re-ingested rows) are dropped.
    *
    * `maxBucket` (disabled <= 0) caps the INDEX side of the join: an
    * over-cap index bucket is reduced to its MIN-ID representative row,
    * so candidate volume is bounded by batch-band-rows x maxBucket per
    * band (one degenerate boilerplate bucket would otherwise cost
    * batch-bucket x index-bucket rows per arriving batch) while every
    * batch row in a degenerate bucket still meets the bucket's
    * representative as a candidate (a single-text flood is always caught;
    * see the recall contract at the implementation for the mixed-bucket
    * tail the cap deliberately trades). The batch side is never
    * aggregated — capping it would be an unsupported streaming plan AND
    * would let a mass replay (more copies than the cap, arriving in one
    * batch) sail through index dedup entirely.
    */
  def candidatesAgainstIndex(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      maxBucket: Int = 0): DataFrame =
    candidatesFromBands(bandIndex(newDf, idCol, textCol), index, maxBucket)
      .distinct()

  /** The (band, key) candidate join over PRECOMPUTED batch band rows — the
    * shared core of [[candidatesAgainstIndex]], and the entry the
    * bucketed-store path uses ([[LshIndexStore]]): a caller that needs the
    * batch's band rows anyway (to derive the touched store buckets for a
    * pruned index read) computes them ONCE and joins here without
    * re-hashing the batch. `batchBands` must be [[bandIndex]]-shaped
    * (id, band, key). Returns (new_id, index_id) rows, one per shared
    * band bucket, without a distinct: a streaming caller dedups them with
    * state (a global distinct is an aggregation its sink mode may not
    * allow).
    */
  def candidatesFromBands(
      batchBands: DataFrame,
      index: DataFrame,
      maxBucket: Int = 0): DataFrame = {
    // The cap bounds JOIN FAN-OUT, not batch membership (round 16, twice
    // revised by measurement): with the cap on the index side only, every
    // batch row joins at most maxBucket index rows per band, so candidate
    // volume is ≤ batchBandRows × maxBucket — linear in the batch. (The
    // first 1M ingest rehearsal paid 29 GB of sort spill exactly because a
    // 2000-cap let degenerate remnant buckets ride just under it; the cost
    // bound scales with the cap, so SIZE the cap, don't widen it.) The
    // batch side is deliberately NOT aggregated: a groupBy + left_anti on
    // a STREAMING batch is an unsupported streaming plan — capping there
    // would break a streaming caller with maxBucket > 0 at query start.
    // Over-cap INDEX buckets keep their MIN-ID ROW as a representative
    // star instead of vanishing (the round's representative-star rule):
    // every batch row that lands in a degenerate bucket still meets one
    // candidate, at one extra row per hot key. Recall contract, stated
    // precisely: the star GUARANTEES a candidate, and the verify step
    // decides — so a flood of copies of ONE text is always caught (its
    // bucket members share the text, so the rep IS the text), but an
    // exact replay of a NON-representative member of a MIXED over-cap
    // bucket (> maxBucket distinct texts sharing a band hash) can verify
    // below threshold against the rep and slip through. The cap trades
    // exactly that tail for the bounded join; size it above honest bucket
    // sizes so only degenerate content ever hits the star.
    val idx =
      if (maxBucket <= 0) index
      else {
        val hot = index.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucket)
          .select(col("band"), col("key"))
        // reps re-join the index on (band, key, min id) so a caller index
        // carrying EXTRA columns keeps them (the pre-star code accepted
        // any schema; selecting synthesized columns would reject it)
        val reps = index.join(hot, Seq("band", "key"))
          .groupBy(col("band"), col("key"))
          .agg(min(col("id")).as("id"))
          .join(index, Seq("band", "key", "id"))
        index.join(hot, Seq("band", "key"), "left_anti")
          .unionByName(reps.select(index.columns.map(col).toIndexedSeq: _*))
      }
    batchBands.as("n")
      .join(idx.as("x"),
        col("n.band") === col("x.band") && col("n.key") === col("x.key"))
      .filter(col("n.id") =!= col("x.id"))
      .select(col("n.id").as("new_id"), col("x.id").as("index_id"))
  }

  /** Exact set-Jaccard verification of candidate pairs — the standard
    * filter-after-LSH step. `pairs` must have (id_a, id_b).
    */
  def verifyJaccard(
      pairs: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val sets = df.select(col(idCol).as("id"), shingles(col(textCol)).as("s"))
    pairs
      .join(sets.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("s_a"), col("s_b"))) /
          size(array_union(col("s_a"), col("s_b")))).as("jaccard"))
  }
}
