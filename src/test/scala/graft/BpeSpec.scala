package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** [[Bpe]] (q122/q123): the classic hand-worked merge sequence, BPE's
  * single-pass (non-greedy-recursive) merge semantics, dictionary-vs-fold
  * encode equality, and trainer determinism.
  */
class BpeSpec extends SparkSpec {

  private def corpus(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("learns the textbook merge sequence on the low/lower/newest corpus") {
    // Sennrich et al.'s worked example shape: 'lo' dominates, then 'low'
    val docs = corpus(
      0L -> "low low low low low",
      1L -> "lower lower",
      2L -> "newest newest newest newest newest newest")
    val (merges, _) = Bpe.train(Bpe.wordTypes(docs, "text"), 3)
    // pair counts round 1: (l,o)=7, (o,w)=7, (e,s)=6, (s,t)=6, (n,e)=6,
    // (w,e)=8(in lower+newest: 2+6)... recompute: words low(5) lower(2) newest(6)
    //   (l,o): 5+2=7  (o,w): 7  (w,e): 2+6=8  (e,r): 2
    //   (n,e): 6 (e,w): 6 (e,s): 6 (s,t): 6
    // → first merge (w,e) cnt 8; ties then favored lexicographically
    assert(merges.head.l == "w" && merges.head.r == "e" && merges.head.cnt == 8L)
    // round 2: 'we' now a symbol; (l,o)=7 (o,we)=2 (we,r)=2 (n,e)=6
    // (e,we)=6 (we,s)=6 (s,t)=6 (o,w)=5 → (l,o) wins at 7
    assert(merges(1).l == "l" && merges(1).r == "o" && merges(1).cnt == 7L)
    // round 3: (lo,w)=5 (lo,we)=2 ... (n,e)/(e,we)/(we,s)/(s,t)=6 →
    // tie at 6 broken lexicographically: (e,we) < (n,e) < (s,t) < (we,s)
    assert(merges(2).l == "e" && merges(2).r == "we" && merges(2).cnt == 6L)
  }

  test("merge application is single-pass left-to-right, not recursive") {
    val docs = corpus(0L -> "aaa aaa")
    val (merges, dict) = Bpe.train(Bpe.wordTypes(docs, "text"), 1)
    assert(merges.head.l == "a" && merges.head.r == "a")
    // 'aaa' under one (a,a) merge → 'aa a' (2 pieces) — NOT 'aaa'
    val sym = dict.select(col("sym")).collect()(0).getString(0)
    assert(sym == " aa a ", s"got '$sym'")
  }

  test("adjacent pair occurrences both merge (round-8 review fix)") {
    // naive ' l r '→' lr ' replace consumed the shared delimiter space and
    // left 'abab' as [ab, a, b]; the doubled-delimiter form must not
    val docs = corpus(0L -> "abab abab abab")
    val (merges, dict) = Bpe.train(Bpe.wordTypes(docs, "text"), 1)
    assert(merges.head.l == "a" && merges.head.r == "b" && merges.head.cnt == 6L)
    val sym = dict.select(col("sym")).collect()(0).getString(0)
    assert(sym == " ab ab ", s"got '$sym'")
  }

  test("aaaa under one (a,a) merge becomes [aa, aa], not [aa, a, a]") {
    val docs = corpus(0L -> "aaaa aaaa")
    val (merges, dict) = Bpe.train(Bpe.wordTypes(docs, "text"), 1)
    assert(merges.head.l == "a" && merges.head.r == "a")
    val sym = dict.select(col("sym")).collect()(0).getString(0)
    assert(sym == " aa aa ", s"got '$sym'")
  }

  test("dictionary encode equals the applyMerges fold on every trained word") {
    val docs = Tables.documents(spark, sf())
    val (merges, dict) = Bpe.train(Bpe.wordTypes(docs, "text"), 8)
    val viaFold = dict.select(col("word"),
      size(split(trim(BpeSpec.applyMerges(col("word"), merges)), " ")).as("nf"),
      size(split(trim(col("sym")), " ")).as("nd"))
    assert(viaFold.filter(col("nf") =!= col("nd")).count() == 0)
  }

  test("piece counts shrink monotonically as merges accumulate") {
    val docs = Tables.documents(spark, sf())
    val wt = Bpe.wordTypes(docs, "text")
    def totalPieces(n: Int): Long = {
      val (_, dict) = Bpe.train(wt, n)
      dict.select(sum(col("freq") *
        size(split(trim(col("sym")), " ")))).collect()(0).getLong(0)
    }
    val chars = docs.select(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    val p2 = totalPieces(2); val p6 = totalPieces(6)
    assert(p6 < p2, s"more merges must not grow the encoding: $p2 -> $p6")
    assert(p6 > chars, "piece count stays above the word count (no word fully merges in 6 rounds here)")
  }

  test("wordpiece picks the likelihood winner where frequency BPE differs") {
    // pair counts: ab=4, ax=6, xb=6, qu=3; symbol counts: a=10, b=10,
    // x=12, q=3, u=3. BPE's frequency argmax is 'a'+'x' (cnt 6, (l,r)
    // tie-break beats 'x'+'b'); WordPiece's likelihood argmax is 'q'+'u'
    // (3/3/3 = 0.333 — rare but always together, the 'qu' signature)
    val docs = corpus(
      0L -> "ab ab ab ab",
      1L -> "ax ax ax ax ax ax",
      2L -> "xb xb xb xb xb xb",
      3L -> "qu qu qu")
    val wt = Bpe.wordTypes(docs, "text")
    val (bpe, _) = Bpe.train(wt, 1)
    val (wp, _) = Bpe.trainWordPiece(wt, 1)
    assert(bpe.head.l == "a" && bpe.head.r == "x", bpe.toString)
    assert(wp.head.l == "q" && wp.head.r == "u", wp.toString)
    assert(wp.head.cnt == 3L)
  }

  test("wordpiece training is deterministic and merge application is shared") {
    val docs = corpus(0L -> "hug hug hug pug pug lug hugs bug")
    val (m1, d1) = Bpe.trainWordPiece(Bpe.wordTypes(docs, "text"), 3)
    val (m2, d2) = Bpe.trainWordPiece(Bpe.wordTypes(docs, "text"), 3)
    assert(m1 == m2)
    // the trained dictionary symbols obey the same two-spaces invariant
    // machinery as BPE: re-applying the learned merges reproduces them
    val reapplied = d1.select(col("word"), col("sym"),
      BpeSpec.applyMerges(col("word"), m1).as("sym2"))
    assert(reapplied.filter(col("sym") =!= col("sym2")).isEmpty)
    assert(d2.select(col("word"), col("sym")).except(
      d1.select(col("word"), col("sym"))).isEmpty)
  }

  test("training is deterministic across runs") {
    val docs = Tables.documents(spark, sf())
    val wt = Bpe.wordTypes(docs, "text")
    val (m1, _) = Bpe.train(wt, 6)
    val (m2, _) = Bpe.train(wt, 6)
    assert(m1 == m2)
  }

  test("stops early when every word is a single symbol") {
    val docs = corpus(0L -> "a b a b a")
    val (merges, _) = Bpe.train(Bpe.wordTypes(docs, "text"), 5)
    assert(merges.isEmpty, "single-char words admit no merges")
  }

  test("driver fast-path trains the identical trajectory (BPE + WordPiece)") {
    // round 17: train/trainWordPiece run the merge loop on the driver when
    // the type table fits DriverTrainMaxTypes; the distributed loop must
    // yield the SAME merges and the SAME final dictionary — both selection
    // rules, real corpus (sf0.001 documents), plus a tie-heavy toy corpus
    // where (l, r) ordering decides every argmax
    for (docs <- Seq(
        Tables.documents(spark, sf()),
        corpus(0L -> "ab ab ba ba", 1L -> "ba ab ba ab"))) {
      val wt = Bpe.wordTypes(docs, "text")
      val (mFast, dFast) = Bpe.train(wt, 6)
      val (mDist, dDist) = Bpe.trainDistributed(wt, 6)
      assert(mFast == mDist)
      assert(dFast.select("word", "freq", "sym")
        .except(dDist.select("word", "freq", "sym")).isEmpty)
      assert(dDist.select("word", "freq", "sym")
        .except(dFast.select("word", "freq", "sym")).isEmpty)
      val (wFast, wtFast) = Bpe.trainWordPiece(wt, 6)
      val (wDist, wtDist) = Bpe.trainWordPieceDistributed(wt, 6)
      assert(wFast == wDist)
      assert(wtFast.select("word", "freq", "sym")
        .except(wtDist.select("word", "freq", "sym")).isEmpty)
      assert(wtDist.select("word", "freq", "sym")
        .except(wtFast.select("word", "freq", "sym")).isEmpty)
    }
  }
}

object BpeSpec {
  import org.apache.spark.sql.Column

  /** The merge list applied to a raw word column as one chain of literal
    * replaces on the doubled-delimiter form (double once, one replace per
    * merge, collapse once): the operations training applied, so for any
    * trained word it must EQUAL the dictionary encode. Returns the spaced
    * symbol string. Catalyst analysis recurses over the chain and
    * overflows the default stack past ~512 merges, so keep it short.
    */
  def applyMerges(word: Column, merges: Seq[Bpe.Merge]): Column = {
    require(merges.length <= 256, s"${merges.length} merges chain too deep")
    Bpe.collapsed(merges.foldLeft(
      Bpe.doubled(concat(lit(" "), array_join(split(word, ""), " "), lit(" ")))) {
      (acc, m) => Bpe.mergeOnDoubled(acc, m)
    })
  }
}
