package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine BPE tokenizer training (Sennrich, Haddow & Birch 2016 — the
  * subword vocabulary learner behind GPT/Llama-family tokenizers) — the
  * missing half of the pipeline's token accounting: `q26`-style counting
  * answers "how many whitespace words", this answers "how many TOKENS will
  * the model see", which is what sequence packing (q58), source mixing
  * (q74) and training-cost estimates actually need.
  *
  * Training is CORPUS-SCALE ONLY ONCE: one pass builds the word-type
  * frequency table (Heaps-law bounded — millions of types at 100 TB, a
  * trivial hash aggregate), and every merge iteration runs on WORD TYPES
  * weighted by frequency, never on the corpus. Each iteration is one
  * explode+aggregate over the type table, an `orderBy…limit(1)` argmax
  * (1-row collect, the bounded-trainer pattern shared with k-means and
  * the logistic classifier), and one literal `replace` — then a
  * localCheckpoint truncates the iterative lineage (the repo rule).
  *
  * Representation: a word's symbol sequence is a single SPACE-DELIMITED
  * string `" h e l l o "`. Applying merge (l, r) as a naive
  * `replace(sym, " l r ", " lr ")` is WRONG for adjacent occurrences:
  * the match consumes the shared delimiter space, so `" a b a b "`
  * yields `" ab a b "` (3 pieces) instead of BPE's [ab, ab] — a real
  * divergence from Sennrich-style merging found by round-8 review. The
  * fix is the DOUBLED-DELIMITER closed form: double every space once
  * (`replace(sym, " ", "  ")`), apply the merge as
  * `replace(d, " l  r ", " lr ")` — the pattern consumes only ONE of the
  * two spaces at each boundary, so every boundary keeps exactly two
  * spaces after the replacement (the invariant is preserved, letting a
  * whole merge CHAIN run on the doubled form with one replace per merge)
  * — then collapse (`replace(d, "  ", " ")`). Leftmost non-overlapping
  * replace on the doubled form IS true left-to-right single-pass BPE:
  * `"a a a a"` + (a,a) → [aa, aa], `"a a a"` + (a,a) → [aa, a]. All
  * three pieces are plain literal replaces, reproducible verbatim in any
  * SQL engine, so the whole training trajectory stays oracle-replayable:
  * q122's DuckDB oracle unrolls the same argmax+replace iterations
  * CTE-by-CTE and must land on the identical merge table. Ties in pair
  * counts break on (l, r) lexicographic order in both engines, so the
  * learned vocabulary is a well-defined function of the corpus, not of
  * execution order.
  *
  * Encoding: words seen in training are encoded by a dictionary equi-join
  * against the final word-type frame — the scalable path (broadcast when
  * the dictionary is small, shuffle join otherwise). BpeSpec checks it
  * against a chain of the same literal replaces applied to the raw word
  * (`applyMerges`) on every trained word.
  */
object Bpe {

  /** One learned merge: `l`+`r` → `l+r`, with the weighted pair count at
    * selection time. */
  final case class Merge(l: String, r: String, cnt: Long)

  /** Single-space sym → doubled-delimiter form (see class doc). */
  private[graft] def doubled(sym: Column): Column = replace(sym, lit(" "), lit("  "))

  /** Doubled-delimiter form → canonical single-space sym. Safe because the
    * merge step preserves the exactly-two-spaces-per-boundary invariant. */
  private[graft] def collapsed(sym: Column): Column = replace(sym, lit("  "), lit(" "))

  /** One merge applied to the DOUBLED form — preserves the invariant, so
    * these chain with one replace per merge. */
  private[graft] def mergeOnDoubled(d: Column, m: Merge): Column =
    replace(d, lit(s" ${m.l}  ${m.r} "), lit(s" ${m.l}${m.r} "))

  /** Word-type table `(word, freq, sym)` — `sym` is the spaced symbol
    * string (see class doc). One corpus pass. */
  def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" "))
          .as("sym"))

  /** Driver fast-path gate (round 17, the connectedComponents /
    * ivfCentroidsKMeans size-adaptive pattern): at or below this many word
    * TYPES the whole merge loop runs on the driver over the collected type
    * table — each distributed iteration costs ~6 Spark stage-jobs
    * (explode+agg, joins, 1-row argmax collect, checkpoint) regardless of
    * data size, and the bench corpus has 31 types, so 6 merges paid ~36
    * scheduler round-trips to fold a few hundred strings. Above the gate
    * the original distributed loop runs unchanged (word types are
    * Heaps-law bounded but can reach millions at 100 TB). Both paths
    * compute the identical trajectory: same exact integer pair/symbol
    * counts, same left-associative double divisions for the WordPiece
    * score, ties broken by UNSIGNED UTF-8 BYTE order ([[utf8Cmp]] — what
    * Spark's string ordering is; String.compareTo would diverge on
    * supplementary characters), same doubled-delimiter replace chain.
    */
  val DriverTrainMaxTypes: Int = 65536

  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Spark `trim` strips ASCII space ONLY; String.trim strips all <= ' '. */
  private def trimSpaces(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  /** The merge loop over a collected `(word, freq, sym)` table — the
    * driver twin of the distributed loops in [[train]] /
    * [[trainWordPiece]] (BpeSpec pins trajectory equality on both
    * selection rules). */
  private def trainLoopDriver(
      types0: Array[(String, Long, String)],
      nMerges: Int,
      wordpiece: Boolean): (Seq[Merge], Array[(String, Long, String)]) = {
    var types = types0
    val merges = Seq.newBuilder[Merge]
    var learned = 0
    var exhausted = false
    while (learned < nMerges && !exhausted) {
      val pairCnt = scala.collection.mutable.LinkedHashMap[(String, String), Long]()
      val symCnt = scala.collection.mutable.HashMap[String, Long]()
      types.foreach { case (_, freq, sym) =>
        val a = trimSpaces(sym).split(" ")
        var k = 0
        while (k < a.length - 1) {
          val key = (a(k), a(k + 1))
          pairCnt.update(key, pairCnt.getOrElse(key, 0L) + freq)
          k += 1
        }
        if (wordpiece) {
          var i = 0
          while (i < a.length) {
            symCnt.update(a(i), symCnt.getOrElse(a(i), 0L) + freq)
            i += 1
          }
        }
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        var bestKey: (String, String) = null
        var bestCnt = 0L
        var bestScore = 0.0
        pairCnt.foreach { case (key, cnt) =>
          // the same left-associative divisions as the distributed plan
          val score =
            if (wordpiece) cnt.toDouble / symCnt(key._1) / symCnt(key._2)
            else 0.0
          val better =
            if (bestKey == null) true
            else if (wordpiece && score != bestScore) score > bestScore
            else if (!wordpiece && cnt != bestCnt) cnt > bestCnt
            else {
              val cl = utf8Cmp(key._1, bestKey._1)
              if (cl != 0) cl < 0 else utf8Cmp(key._2, bestKey._2) < 0
            }
          if (better) { bestKey = key; bestCnt = cnt; bestScore = score }
        }
        val m = Merge(bestKey._1, bestKey._2, bestCnt)
        merges += m
        learned += 1
        val pat = " " + m.l + "  " + m.r + " "
        val rep = " " + m.l + m.r + " "
        types = types.map { case (w, f, sym) =>
          (w, f, sym.replace(" ", "  ").replace(pat, rep).replace("  ", " "))
        }
      }
    }
    (merges.result(), types)
  }

  /** The collected type table when it fits the driver gate, else null. */
  private def collectIfSmall(wordTypes: DataFrame): Array[(String, Long, String)] = {
    val local = wordTypes.select("word", "freq", "sym")
      .limit(DriverTrainMaxTypes + 1).collect()
    if (local.length > DriverTrainMaxTypes) null
    else local.map(r => (r.getString(0), r.getLong(1), r.getString(2)))
  }

  private def localTypesDf(
      spark: SparkSession, types: Array[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    types.toSeq.toDF("word", "freq", "sym")
  }

  /** Learns `nMerges` merge rules; returns them plus the final word-type
    * frame (the encoding dictionary). Deterministic: argmax ties break on
    * (l, r) order.
    */
  def train(wordTypes: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges must be in [1, 10000], got $nMerges")
    val small = collectIfSmall(wordTypes)
    if (small != null) {
      val (ms, fin) = trainLoopDriver(small, nMerges, wordpiece = false)
      return (ms, localTypesDf(wordTypes.sparkSession, fin))
    }
    trainDistributed(wordTypes, nMerges)
  }

  /** The distributed merge loop — package-private so BpeSpec can pin its
    * trajectory equal to [[trainLoopDriver]]'s on the same input. */
  private[graft] def trainDistributed(
      wordTypes: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    var wt = wordTypes.localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var learned = 0
    var exhausted = false
    while (learned < nMerges && !exhausted) {
      val a = split(trim(col("sym")), " ")
      val top = wt
        .select(col("freq"),
          when(size(a) >= 2,
            transform(sequence(lit(1), size(a) - 1),
              k => struct(element_at(a, k).as("l"), element_at(a, k + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))
            .as("prs"))
        .select(col("freq"), explode(col("prs")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true // every word is a single symbol
      else {
        val m = Merge(top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += m
        learned += 1
        wt = wt.withColumn("sym",
          collapsed(mergeOnDoubled(doubled(col("sym")), m)))
          .localCheckpoint(true)
      }
    }
    (merges.result(), wt)
  }

  /** WordPiece-style training (Schuster & Nakajima 2012; the BERT
    * tokenizer family): same representation and merge APPLICATION as BPE,
    * but merges are selected by the LIKELIHOOD score
    * `cnt(l,r) / cnt(l) / cnt(r)` — the pair whose fusion most increases
    * corpus likelihood under a unigram model — instead of raw pair
    * frequency. The score is spelled as two LEFT-ASSOCIATIVE divisions
    * (never `cnt/(cl*cr)`: the product overflows Long at web-scale symbol
    * counts, and both engines must round identically — two IEEE divisions
    * of exact integer-valued doubles do). Ties break on (l, r) order, so
    * the trajectory is oracle-replayable exactly like [[train]] (q145).
    *
    * Per iteration: pair counts AND symbol counts are two aggregates over
    * the word-TYPE table (never the corpus), two broadcast-sized joins
    * attach the unigram counts, one 1-row argmax collect — the
    * bounded-trainer shape; corpus-scale work remains the single
    * [[wordTypes]] pass.
    */
  def trainWordPiece(wordTypes: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges must be in [1, 10000], got $nMerges")
    val small = collectIfSmall(wordTypes)
    if (small != null) {
      val (ms, fin) = trainLoopDriver(small, nMerges, wordpiece = true)
      return (ms, localTypesDf(wordTypes.sparkSession, fin))
    }
    trainWordPieceDistributed(wordTypes, nMerges)
  }

  /** [[trainDistributed]]'s WordPiece twin, package-private for the same
    * trajectory-equality spec. */
  private[graft] def trainWordPieceDistributed(
      wordTypes: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    var wt = wordTypes.localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var learned = 0
    var exhausted = false
    while (learned < nMerges && !exhausted) {
      val a = split(trim(col("sym")), " ")
      val pairs = wt
        .select(col("freq"),
          when(size(a) >= 2,
            transform(sequence(lit(1), size(a) - 1),
              k => struct(element_at(a, k).as("l"), element_at(a, k + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))
            .as("prs"))
        .select(col("freq"), explode(col("prs")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val syms = wt
        .select(col("freq"), explode(a).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("c"))
      val top = pairs
        .join(syms.select(col("s").as("l"), col("c").as("cl")), "l")
        .join(syms.select(col("s").as("r"), col("c").as("cr")), "r")
        .select(col("l"), col("r"), col("cnt"),
          (col("cnt") / col("cl") / col("cr")).as("score"))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val m = Merge(top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += m
        learned += 1
        wt = wt.withColumn("sym",
          collapsed(mergeOnDoubled(doubled(col("sym")), m)))
          .localCheckpoint(true)
      }
    }
    (merges.result(), wt)
  }

  /** The learned merge table as a tiny literal frame
    * `(rank, l, r, merged, cnt)`. */
  def mergeTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i + 1, m.l, m.r, m.l + m.r, m.cnt) }
      .toDF("rank", "l", "r", "merged", "cnt")
  }

  /** Token counts per document via the DICTIONARY path: explode words,
    * equi-join the trained word-type frame, sum piece counts. Words not in
    * the dictionary are dropped (train-corpus encoding never hits this;
    * novel corpora need their words added to the dictionary first).
    */
  def encodeCounts(docs: DataFrame, trainedWordTypes: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val dict = trainedWordTypes
      .select(col("word"),
        size(split(trim(col("sym")), " ")).cast("long").as("n_pieces"))
    docs.select(col(idCol).as(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      // declared join strategy (UnigramLm.encodeCounts' comment): the
      // type-bounded dict is the build side; a lying static estimate on
      // the caller's corpus frame must never broadcast the words side
      .join(dict.hint("shuffle_hash"), "word")
      .groupBy(col(idCol))
      .agg(sum(col("n_pieces")).as("n_pieces"))
  }
}
