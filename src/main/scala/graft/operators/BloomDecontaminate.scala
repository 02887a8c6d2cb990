package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination through a broadcast Bloom filter — the
  * constant-memory scale path beside q67's exact broadcast-join form.
  *
  * q67 broadcasts the test corpus's DISTINCT shingle set and equi-joins:
  * exact, but broadcast size grows with the benchmark (every gram string
  * shipped to every executor) and the corpus side shuffles into the join.
  * Here the test corpus folds into a FIXED-SIZE bloom (`bloom_agg` — a
  * mergeable partial aggregate, so the build is one pass + a 1-row
  * exchange at any benchmark size, collected once to the driver because
  * the probe requires a constant filter — numBits/8 bytes, the bounded
  * PQ-codebook pattern), and the train side is a pure scan with a
  * codegen'd `bloom_might_contain` probe per shingle — NO join, NO
  * shuffle, no per-executor gram set. The price is one-sided error:
  *
  *   - a doc sharing ≥ 1 shingle with the test corpus is flagged with
  *     probability 1 (bloom filters have NO false negatives) — the
  *     contract that matters for decontamination, since a missed overlap
  *     poisons an eval;
  *   - a clean doc is falsely flagged with probability ≤ the filter's
  *     fpp (sized by `numBits` vs the true gram count; ~16 bits/gram
  *     ≈ 4e-4) — over-dropping a handful of clean docs is the accepted
  *     trade, and the spec measures the realized rate.
  *
  * Both expressions are Spark's own runtime-filter machinery
  * (BloomFilterAggregate / BloomFilterMightContain), registered for user
  * code by [[graft.plans.GraftFunctions]] — no UDF anywhere.
  */
object BloomDecontaminate {

  /** Train docs with a `contaminated` flag: true ⟺ some `shingleWords`-word
    * shingle of the doc is (probably) present in `test`.
    *
    * @param expectedGrams sizing hint for the bloom build (true distinct
    *                      gram count of `test`; overestimates are safe)
    * @param numBits       bloom width in bits; fpp ≈ (1-e^(-kn/m))^k with
    *                      k optimal for m/n — 16 bits per true gram gives
    *                      ~4e-4
    */
  def contaminationFlags(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 5,
      expectedGrams: Long = 1L << 20,
      numBits: Long = 1L << 24): DataFrame = {
    require(shingleWords >= 1, s"shingleWords must be >= 1, got $shingleWords")
    require(expectedGrams > 0 && numBits > 0,
      s"expectedGrams/numBits must be positive, got $expectedGrams/$numBits")
    graft.plans.GraftFunctions.register(train.sparkSession)
    // no distinct() before the build: bloom insertion is idempotent, so
    // deduplicating the gram stream would spend a shuffle to save nothing.
    // The 1-row result is COLLECTED (bounded: numBits/8 bytes — the PQ
    // codebook pattern) because might_contain requires a CONSTANT filter;
    // the literal ships with tasks exactly like a broadcast would
    val bloomBytes = shingled(test, idCol, textCol, shingleWords)
      .select(explode(col("__grams")).as("g"))
      .agg(call_function("bloom_agg", xxhash64(col("g")),
        lit(expectedGrams), lit(numBits)).as("__bf"))
      .head().getAs[Array[Byte]]("__bf")
    shingled(train, idCol, textCol, shingleWords)
      .withColumn("contaminated",
        exists(col("__grams"), g =>
          call_function("bloom_might_contain", lit(bloomBytes), xxhash64(g))))
      .drop("__grams")
  }

  /** The decontamination ACTION: train minus every (probably) overlapping
    * doc. Removal is complete by the no-false-negative guarantee; at most
    * an fpp-fraction of clean docs is over-dropped.
    */
  def clean(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 5,
      expectedGrams: Long = 1L << 20,
      numBits: Long = 1L << 24): DataFrame =
    contaminationFlags(train, test, idCol, textCol, shingleWords,
      expectedGrams, numBits)
      .filter(!col("contaminated")).drop("contaminated")

  /** Tokens projected as an attribute BELOW the shingle transform (the
    * q67 rule: Catalyst does not CSE into lambda bodies).
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.withColumn("__toks", graft.functions.TextHash.tokens(col(textCol)))
      .withColumn("__grams",
        graft.functions.TextHash.wordShinglesOf(col("__toks"), n))
      .drop("__toks")
}
