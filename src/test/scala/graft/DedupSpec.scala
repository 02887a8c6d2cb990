package graft

import graft.functions.TextHash
import graft.operators.{MinHashLSH, SimHash}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup of 1
    (4L, "completely different words entirely unrelated content here now"),
    (5L, "dog lazy the over jumps fox brown quick the") // permutation of 1
  ).toDF("doc_id", "text")

  test("minhash: exact duplicates always share every band and are candidates") {
    val lsh = MinHashLSH(numHashes = 12, numBands = 3, shingleSize = 1)
    val pairs = lsh.candidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // permutation has the same token SET -> same unigram signature
    assert(pairs.contains((1L, 5L)))
  }

  test("minhash: verifyJaccard gives 1.0 for dups, low for unrelated") {
    val lsh = MinHashLSH(12, 3, 1)
    val pairs = lsh.candidatePairs(docs, "doc_id", "text")
    val j = lsh.verifyJaccard(pairs, docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) == 1.0)
    j.get((1L, 4L)).foreach(v => assert(v < 0.2))
  }

  test("minhash: maxBucket drops mega-buckets") {
    val many = (1 to 50).map(i => (i.toLong, "same same text")).toDF("doc_id", "text")
    val lsh = MinHashLSH(12, 3, 1)
    assert(lsh.candidatePairs(many, "doc_id", "text", maxBucket = 10).count() == 0)
    assert(lsh.candidatePairs(many, "doc_id", "text").count() == 50L * 49 / 2)
  }

  test("repOverCap: over-cap buckets keep the representative star, small buckets are pair-identical") {
    // 50 identical docs (one mega-bucket per band) + one small near-dup
    // group: with repOverCap the mega-bucket must contribute exactly the
    // n-1 star edges rooted at the minimum id, while the small group's
    // pair set is unchanged from the plain capped form
    val many = (1 to 50).map(i => (i.toLong, "same same text")) ++
      Seq((100L, "tiny pair group alpha"), (101L, "tiny pair group alpha"))
    val df = many.toDF("doc_id", "text")
    val lsh = MinHashLSH(12, 3, 1)
    val star = lsh.candidatePairs(df, "doc_id", "text",
        maxBucket = 10, repOverCap = true)
      .as[(Long, Long)].collect().toSet
    val expected = (2 to 50).map(i => (1L, i.toLong)).toSet + ((100L, 101L))
    assert(star == expected, s"got ${star.size} pairs")
    // the drop form loses the mega-bucket entirely; the star form keeps
    // every member reachable through the representative
    val dropped = lsh.candidatePairs(df, "doc_id", "text", maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert(dropped == Set((100L, 101L)))
    // under-cap corpus: rep mode is pair-identical to the plain form
    val plain = lsh.candidatePairs(docs, "doc_id", "text", maxBucket = 100)
      .as[(Long, Long)].collect().toSet
    val rep = lsh.candidatePairs(docs, "doc_id", "text",
        maxBucket = 100, repOverCap = true)
      .as[(Long, Long)].collect().toSet
    assert(rep == plain)
  }

  test("multi-representative stars (round 17): R id-stride reps cover a mixed over-cap bucket") {
    import graft.operators.BandedSelfJoin
    // one over-cap bucket of 40 members (ids 1..40) + one small bucket —
    // synthetic keyed rows drive the scaffold directly, since a genuinely
    // MIXED bucket (several texts sharing a band hash) is what the trim
    // corpus shows at 1M but MinHash cannot be made to produce on demand
    val keyed = ((1 to 40).map(i => (i.toLong, 0, "k")) ++
      Seq((100L, 0, "s"), (101L, 0, "s"), (102L, 0, "s")))
      .toDF("id", "band", "key")
    val pairsOf = (r: Int) => BandedSelfJoin
      .pairs(keyed, maxBucket = 10, repOverCap = true, numReps = r)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val small = Set((100L, 101L), (100L, 102L), (101L, 102L))
    // R=1 must be byte-identical to the round-16 min-id star
    assert(pairsOf(1) == (2 to 40).map(i => (1L, i.toLong)).toSet ++ small)
    // R=4 over n=40: stride ceil(40/4)=10 -> rep ids {1, 11, 21, 31};
    // EVERY member pairs with EVERY rep regardless of id order (member 15
    // meets reps 1, 11 below it AND 21, 31 above it), rep-rep pairs once
    val reps = Set(1L, 11L, 21L, 31L)
    val expected = (for {
      m <- (1 to 40).map(_.toLong); r <- reps; if m != r
    } yield (math.min(m, r), math.max(m, r))).toSet ++ small
    assert(pairsOf(4) == expected, s"got ${pairsOf(4).size}, want ${expected.size}")
    // duplicate-id rows (a clip's several sub-fps in one bucket) keep rep
    // selection deterministic: dense_rank ranks id VALUES (no row_number
    // tie-break), and the stride derives from the ROW count — the
    // quantity the cap governs — so 41 rows over R=4 give stride 11 and
    // rep ids {1, 12, 23, 34}; still ≤ R reps, still a pure function of
    // the bucket's contents
    val dup = keyed.unionByName(Seq((7L, 0, "k")).toDF("id", "band", "key"))
    val withDup = BandedSelfJoin
      .pairs(dup, maxBucket = 10, repOverCap = true, numReps = 4)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val reps2 = Set(1L, 12L, 23L, 34L)
    val expected2 = (for {
      m <- (1 to 40).map(_.toLong); r <- reps2; if m != r
    } yield (math.min(m, r), math.max(m, r))).toSet ++ small
    assert(withDup == expected2, s"got ${withDup.size}, want ${expected2.size}")
  }

  test("stratified stars (round 17): variant classes get their OWN reps, edges stay in class") {
    import graft.operators.BandedSelfJoin
    // one over-cap bucket of 40 members carrying a VARIANT payload
    // (interleaved: odd ids variant A, even variant B — the mixed-bucket
    // shape that defeats a single min-id rep), plus one small bucket
    // whose all-pairs semantics must be untouched by stratification
    val keyed = ((1 to 40).map(i =>
      (i.toLong, 0, "k", if (i % 2 == 1) 1111L else 2222L)) ++
      Seq((100L, 0, "s", 1L), (101L, 0, "s", 2L), (102L, 0, "s", 3L)))
      .toDF("id", "band", "key", "strat")
    val got = BandedSelfJoin
      .pairs(keyed, maxBucket = 10, repOverCap = true, numReps = 8,
        repStratCol = Some("strat"))
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val small = Set((100L, 101L), (100L, 102L), (101L, 102L))
    // classes are EXACT variant classes (xxhash64 of the strat value, no
    // fold-down): each variant's members pair with exactly their OWN
    // variant's min-id rep (A -> 1, B -> 2) and never across
    val aIds = (1 to 40).filter(_ % 2 == 1).map(_.toLong)
    val bIds = (1 to 40).filter(_ % 2 == 0).map(_.toLong)
    val separate =
      aIds.filter(_ != 1L).map(m => (1L, m)).toSet ++
        bIds.filter(_ != 2L).map(m => (2L, m)).toSet ++ small
    assert(got == separate,
      s"got ${got.size} pairs (${got.toSeq.sorted.take(8)}...); " +
        s"want per-variant stars + untouched small bucket (${separate.size})")
  }

  test("derivedCap: floor in the sparse regime, 16x expected when keys saturate") {
    import graft.operators.BandedSelfJoin.derivedCap
    // E << 1: any over-floor bucket is degenerate content, never random
    assert(derivedCap(81000L, keyBits = 32) == 32)
    assert(derivedCap(0L, keyBits = 16) == 32)
    // E = 1M/2^16 ~ 15.3 -> 16 x ceil(E) = 256
    assert(derivedCap(1000000L, keyBits = 16) == 256)
    // custom floor wins when larger
    assert(derivedCap(1000L, keyBits = 16, floor = 64) == 64)
  }

  test("minhash: index-based incremental candidates == self-join cross pairs") {
    // scale-path hash family (xxhash64) — the config q63's oracle twin
    // (md5 parity) does NOT cover
    val corpus = Tables.documents(spark, sf()).filter($"doc_id" < 100)
    val lsh = MinHashLSH(numHashes = 12, numBands = 3, shingleSize = 2)
    val existing = corpus.filter($"doc_id" < 70)
    val batch = corpus.filter($"doc_id" >= 70)
    val viaIndex = lsh.candidatesAgainstIndex(
        batch, "doc_id", "text", lsh.bandIndex(existing, "doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    // candidatePairs emits id_a < id_b; a cross pair has exactly one side
    // >= 70 and it is always id_b — flip to (new_id, index_id)
    val cross = lsh.candidatePairs(corpus, "doc_id", "text")
      .as[(Long, Long)].collect()
      .filter { case (a, b) => a < 70 && b >= 70 }
      .map { case (a, b) => (b, a) }.toSet
    assert(viaIndex == cross)
    assert(viaIndex.nonEmpty)
  }

  test("index star cap (round 16): over-cap buckets reduce to their min-id rep, extra columns survive") {
    val lsh = MinHashLSH(numHashes = 12, numBands = 3, shingleSize = 2)
    // 70 IDENTICAL docs: every band bucket of the index holds 70 rows —
    // far over cap 4 — so each bucket must reduce to exactly the min-id
    // representative (id 1), and a new copy's only candidates are (new, 1)
    val same = (1L to 70L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val idx = lsh.bandIndex(same, "doc_id", "text")
    val batch = Seq((999L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val cand = lsh.candidatesAgainstIndex(batch, "doc_id", "text", idx, maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((999L, 1L)), cand.toString)
    // a caller index carrying EXTRA columns keeps working under the cap
    // (the rep rows re-join the original schema rather than synthesizing)
    val idxTagged = idx.withColumn("src", lit("crawl-7"))
    val cand2 = lsh.candidatesAgainstIndex(batch, "doc_id", "text", idxTagged, maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    assert(cand2 == Set((999L, 1L)))
    // under-cap buckets are untouched: without the cap all 70 match
    val all = lsh.candidatesAgainstIndex(batch, "doc_id", "text", idx)
      .as[(Long, Long)].collect().toSet
    assert(all == (1L to 70L).map((999L, _)).toSet)
  }

  test("native minhash_sig is bit-identical to the HOF fold it replaced") {
    // deliberately NO GraftFunctions.register: signature() must work on
    // any session (Bridge-wrapped expression, no registry precondition)
    val corpus = Tables.documents(spark, sf()).limit(100)
    for (lsh <- Seq(MinHashLSH(12, 3, 3), MinHashLSH(8, 2, 1))) {
      val both = corpus.select(
        lsh.signature(col("text")).as("native"),
        DedupSpec.signatureHof(lsh, col("text")).as("hof"))
      assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    }
    // empty shingle set -> all-MaxValue accumulator, exactly like the fold
    val empty = spark.range(1).select(lit("ab").as("text"))
      .select(MinHashLSH(4, 2, 3).signature(col("text")).as("sig"))
      .head().getSeq[Long](0)
    assert(empty == Seq.fill(4)(Long.MaxValue))
  }

  test("native simhash32 is bit-identical to the HOF fold it replaced") {
    val corpus = Tables.documents(spark, sf()).limit(150)
    val both = corpus.select(
      SimHash.simhashOfText(col("text")).as("native"),
      DedupSpec.simhashHof(split(col("text"), " ")).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    // edge parity: duplicate tokens, empty-string token, null token
    val edge = spark.range(1).select(
      array(lit("a"), lit("a"), lit(""), lit(null).cast("string"), lit("b")).as("toks"))
    val r = edge.select(SimHash.simhash(col("toks")).as("native"),
      DedupSpec.simhashHof(col("toks")).as("hof")).head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("simhash: identical token sets get identical fingerprints; near dups are close") {
    val sh = docs.select($"doc_id", SimHash.simhashOfText($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) == sh(5L)) // set-based: permutation invariant
    val hamNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hamFar = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hamNear < hamFar)
    // fingerprints fit in 32 bits
    assert(sh.values.forall(v => v >= 0 && v <= 0xffffffffL))
  }

  test("rolling fingerprint: order-sensitive seq, order-insensitive set key") {
    val fp = docs.select($"doc_id",
        TextHash.rollingFp(TextHash.tokens($"text")).as("seq"),
        TextHash.setFp(TextHash.tokens($"text")).as("set"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, a, b) => id -> (a, b) }.toMap
    assert(fp(1L) == fp(2L))               // exact dup: both equal
    assert(fp(1L)._1 != fp(5L)._1)         // permutation: seq differs
    assert(fp(1L)._2 == fp(5L)._2)         // ...but set key equal
    assert(fp(1L)._2 != fp(4L)._2)
  }

  test("simhash banded pairing: exact dups are candidates for any band split") {
    // exact dups have Hamming 0, so every band agrees — any split finds them
    for (bands <- Seq(2, 4, 8)) {
      val pairs = SimHash.candidatePairs(docs, "doc_id", "text",
          bands = bands, maxHamming = bands - 1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)), s"bands=$bands missed exact dup (1,2)")
      assert(pairs.contains((1L, 5L)), s"bands=$bands missed set-dup (1,5)")
    }
  }

  test("simhash banded pairing == all-pairs form within its Hamming bound") {
    // pigeonhole completeness: with 4 bands, every pair at Hamming <= 3
    // must be found; compare against the brute-force all-pairs computation
    val fps = docs.select($"doc_id", SimHash.simhashOfText($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      a <- fps.keys; b <- fps.keys if a < b
      d = java.lang.Long.bitCount(fps(a) ^ fps(b)) if d <= 3
    } yield (a, b, d)).toSet
    val banded = SimHash.candidatePairs(docs, "doc_id", "text",
        bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == expected)
  }

  test("simhash banded pairing: maxBucket drops degenerate mega-buckets") {
    val many = (1 to 40).map(i => (i.toLong, "same same text")).toDF("doc_id", "text")
    assert(SimHash.candidatePairs(many, "doc_id", "text", maxBucket = 10).count() == 0)
    assert(SimHash.candidatePairs(many, "doc_id", "text").count() == 40L * 39 / 2)
  }

  test("simhash salted pair-verify emits the identical pair set") {
    // saltAbove = 1 forces every bucket onto the salted path at the max
    // 64-way split, including cross-salt pairs — the set must equal the
    // unsalted plan's exactly, with and without the bucket cap
    def set(maxBucket: Int, saltAbove: Int) =
      SimHash.candidatePairs(docs, "doc_id", "text", bands = 4,
          maxHamming = 3, maxBucket = maxBucket, saltAbove = saltAbove)
        .as[(Long, Long, Int)].collect()
    for (mb <- Seq(0, 10))
      assert(set(mb, 1).toSet == set(mb, 0).toSet,
        s"maxBucket=$mb: salted pair set diverged")
  }

  test("salted banded self-join meets each pair exactly once per agreeing band") {
    import org.apache.spark.sql.functions.col
    // PRE-distinct, on BandedSelfJoin directly — candidatePairs' trailing
    // distinct() would mask a double-emitting salt bug. One 40-row bucket
    // forced onto the max 64-way split: exactly C(40,2) raw join rows,
    // no pair twice, none lost.
    val oneBucket = (1 to 40).map(i => (i.toLong, 0, 0L)).toDF("id", "band", "key")
    val raw = graft.operators.BandedSelfJoin.pairs(oneBucket, maxBucket = 0, saltAbove = 1)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect()
    assert(raw.length == 40 * 39 / 2, s"raw salted join emitted ${raw.length} rows")
    assert(raw.toSet.size == raw.length, "raw salted join emitted a pair twice")
    // ids sharing TWO bands must meet once per band (the multi-band shape
    // distinct() exists for), same as the unsalted plan
    val twoBands = (1 to 12).flatMap(i => Seq((i.toLong, 0, 0L), (i.toLong, 1, 7L)))
      .toDF("id", "band", "key")
    val rawSalted = graft.operators.BandedSelfJoin.pairs(twoBands, 0, saltAbove = 1)
      .select(col("a.band"), col("a.id"), col("b.id"))
      .as[(Int, Long, Long)].collect()
    val rawPlain = graft.operators.BandedSelfJoin.pairs(twoBands, 0)
      .select(col("a.band"), col("a.id"), col("b.id"))
      .as[(Int, Long, Long)].collect()
    assert(rawSalted.length == 2 * (12 * 11 / 2) &&
      rawSalted.toSet.size == rawSalted.length)
    assert(rawSalted.toSet == rawPlain.toSet)
    // the degenerate mega-bucket through the public operator still yields
    // every real pair after dedup
    val many = (1 to 40).map(i => (i.toLong, "same same text")).toDF("doc_id", "text")
    assert(SimHash.candidatePairs(many, "doc_id", "text", saltAbove = 1)
      .count() == 40L * 39 / 2)
  }

  test("dedup operators leave no cached RDDs behind (round-1 leak)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lsh = MinHashLSH(12, 3, 1)
    lsh.candidatePairs(docs, "doc_id", "text", maxBucket = 10).collect()
    SimHash.candidatePairs(docs, "doc_id", "text").collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"operator leaked cached RDDs: ${after -- before}")
  }

  test("minhash signature estimates jaccard") {
    // property-ish: estimated similarity (matching signature fraction)
    // within 0.35 of true jaccard for 128 hashes
    val lsh = MinHashLSH(numHashes = 128, numBands = 32, shingleSize = 1)
    val sig = docs.select($"doc_id", lsh.signature($"text").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val sets = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    for (a <- sets.keys; b <- sets.keys if a < b) {
      val trueJ = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      val estJ = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toDouble / 128
      assert(math.abs(trueJ - estJ) < 0.35, s"pair ($a,$b): true=$trueJ est=$estJ")
    }
  }
}

/** The declarative folds the native MinHash and SimHash expressions
  * replaced — the reference semantics those must reproduce bit for bit.
  */
object DedupSpec {
  import org.apache.spark.sql.Column

  def signatureHof(lsh: MinHashLSH, text: Column): Column =
    aggregate(
      transform(lsh.shingles(text), s => call_function("xxhash64", s)),
      array_repeat(lit(Long.MaxValue), lsh.numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(lsh.numHashes - 1)),
        (m, j) => least(m, call_function("xxhash64", j, h))))

  def simhashHof(toks: Column): Column = {
    val bitIdx = sequence(lit(0), lit(SimHash.Bits - 1))
    val counts = aggregate(
      transform(array_distinct(toks), t => TextHash.h60(t)),
      array_repeat(lit(0L), SimHash.Bits),
      (acc, h) => zip_with(acc, bitIdx,
        (a, b) => a + when(call_function("shiftright", h, b) % 2 === 1, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, bitIdx,
        (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc + v)
  }
}
