package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document duplicated-substring detection — the exact-substring
  * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes Language
  * Models Better"), re-expressed Spark-first. Instead of a suffix array
  * (a single global sorted structure that does not shard naturally), the
  * same result comes from relational primitives Catalyst already scales:
  *
  *   1. explode each document into its k-character grams, keyed by
  *      (doc_id, pos) — position index exploded FIRST, gram computed in a
  *      select ABOVE the Generate, so the substring runs once per row
  *      (Catalyst does not CSE into lambda bodies; this layout keeps the
  *      hot expression out of any lambda);
  *   2. mark positions whose gram occurs in >= minDocs distinct documents
  *      (two strategies, below);
  *   3. per-document gaps-and-islands (lag + running sum over one window
  *      partitioned by doc_id) merges overlapping/adjacent duplicated
  *      positions into MAXIMAL spans — `pos - prev_pos > k` starts a new
  *      island, anything closer overlaps or abuts the previous gram.
  *
  * Step 2 strategy (`singlePass`, measured at sf0.1 / local[8]):
  *   - `Some(true)`: per-gram min/max of doc_id as WINDOW functions
  *     over the gram key — ONE pass over the exploded frame, one exchange;
  *     a gram spans >= 2 docs iff min != max. 2.7-3.1 s. WindowExec
  *     buffers each gram group (spilling, not OOM — but a degenerate gram
  *     duplicated billions of times at 100 TB makes a straggler group).
  *   - `Some(false)`: groupBy(gram).agg(min, max) then an equi-join back —
  *     the aggregate is a strictly O(1)-memory map-side combine, immune to
  *     degenerate grams; costs a second explode pass and a join (SMJ via
  *     co-partitioning; do NOT let this broadcast — building a
  *     HashedRelation of the full gram frame was measured 2x slower than
  *     SMJ here: 9.4 s broadcast vs 4.5 s SMJ).
  *   - `None` (default): AUTO — singlePass while Catalyst's size estimate
  *     of the pruned (doc_id, text) input is at most
  *     [[SubstringDedup.SinglePassMaxBytes]], the skew-immune two-pass
  *     form above it. Small corpora keep the cheaper one-exchange plan
  *     (q100's no-join plan audit holds at test scale); a 100 TB corpus
  *     auto-selects the strategy that cannot be stalled by one degenerate
  *     gram. The estimate comes from `optimizedPlan.stats` — file-size
  *     metadata, no extra Spark job.
  *   `SubstringDedupSpec` proves both strategies equal on a mixed corpus.
  *
  * Scale posture: the only data-expanding step is the gram explode
  * (len(text) rows per doc — same blowup the suffix array pays). With
  * `hashShuffle = true` the shuffled payload per gram is an 8-byte
  * xxhash64 instead of the k-char string, so the groupBy/join exchanges
  * carry (hash, doc_id, pos) triples regardless of k — the variant to run
  * at 100 TB, accepting the vanishing 64-bit collision odds exactly as
  * Lee et al.'s hash-based pipeline does (round-7 rehearsal, 1M docs:
  * two-pass 999 s string-keyed vs 547 s hashed — 1.8x from shuffle bytes
  * alone; it stays opt-in because the declared q100 must stay exact for
  * its DuckDB oracle). The exact-string form is the
  * oracle-checkable twin; `SubstringDedupSpec` proves the two agree on a
  * corpus, and q100 declares the exact form over the full documents table.
  */
object SubstringDedup {

  /** Auto-strategy threshold (see `singlePass = None` in the class doc):
    * corpora whose pruned (doc_id, text) columns are estimated above this
    * take the skew-immune two-pass marking. Calibrated by the round-7
    * scale rehearsal (1M docs / 182 MB parquet, local[32]): window
    * marking 1907 s vs two-pass 999 s (and 547 s with hashShuffle) — the
    * window's per-gram group buffering loses well before the original
    * 2 GiB guess; at sf0.1 (60k docs / ~20 MB) the window still wins
    * (2.7 s vs 4.5 s). 64 MiB splits the measured bracket: small corpora
    * keep the cheaper one-exchange plan, anything larger takes the
    * strategy that cannot be stalled by one degenerate gram.
    */
  val SinglePassMaxBytes: Long = 64L << 20

  /** The `singlePass = None` decision, factored out for direct testing:
    * window marking iff Catalyst's size estimate of `base` (already
    * column-pruned to (doc_id, text)) is at most `threshold` bytes.
    */
  private[graft] def autoSinglePass(
      base: DataFrame, threshold: Long = SinglePassMaxBytes): Boolean =
    base.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)

  /** The `gramSalt = 0` auto-derivation (round 17, VERDICT r16 task 2):
    * one salt unit per 16 MiB of Catalyst's corpus-size estimate, capped
    * at 32 — plan-time arithmetic, no extra job, monotone in corpus size.
    * Rationale: the two-pass join's worst key group is a single gram
    * owning a whole partition's positions; a salt of S splits any group's
    * SMJ sort ~S ways, so sizing S by corpus bytes bounds the largest
    * sort at roughly one comfortable task regardless of gram skew. The
    * estimate comes from `optimizedPlan.stats` (file metadata), the
    * [[autoSinglePass]] trade. Corpora below the [[SinglePassMaxBytes]]
    * window threshold never reach the two-pass branch, so the derived
    * salt only ever applies where the exchange is already large.
    */
  private[graft] def derivedGramSalt(base: DataFrame): Int = {
    val bytes = base.queryExecution.optimizedPlan.stats.sizeInBytes
    val units = (bytes + BigInt((16L << 20) - 1)) / BigInt(16L << 20)
    units.min(BigInt(32)).max(BigInt(1)).toInt
  }

  /** WINNOWED duplicated spans — the sub-linear fingerprint variant of
    * [[duplicatedSpans]] (Schleimer et al. 2003, the MOSS algorithm):
    * instead of shuffling EVERY k-gram position, each sliding window of
    * `w` consecutive positions contributes only its minimum-hash gram
    * (rightmost on ties — robust winnowing), cutting the shuffled
    * position count to ~2/(w+1) of the exhaustive form. The winnowing
    * guarantee: any duplicated run of at least w+k-1 characters shares at
    * least one selected fingerprint between its copies, so long
    * duplications are always detected; runs shorter than that may be
    * missed — the documented recall trade that buys the 4-5x shuffle
    * reduction at 100 TB.
    *
    * Cross-engine determinism: the gram hash is the repo's md5 parity
    * trick (48-bit here), so DuckDB computes the IDENTICAL hash and the
    * result is exactly oracle-checkable — even a hash collision affects
    * both engines identically. The per-window argmin is encoded order-
    * free as one BIGINT key `hash*4096 + (4095-localPos)` (min key = min
    * hash, rightmost position on ties) — codegen-friendly long min, no
    * struct ordering in the hot window.
    *
    * Documents of ANY length are supported via SEGMENTED winnowing: gram
    * positions are processed in segments of `segmentLen` (default 4088 =
    * 4095-(w-1), so local offsets fit the 12-bit field), each segment
    * carrying the next w-1 positions as lookahead so every full window
    * lies entirely inside exactly one segment. A window's argmin compares
    * `hash*4096 + (4095 - (pos - segStart))` — within one window all
    * positions share a segment, so the shifted offsets order identically
    * to global positions and the selected fingerprint is IDENTICAL to
    * unchunked winnowing (SubstringDedupSpec proves segmentLen-invariance
    * directly). Decode adds segStart back to recover the global position.
    *
    * Islands merge selected positions with gaps <= k+w-1 (consecutive
    * fingerprints inside one contiguous duplicated run are at most w-1
    * positions apart, plus the k-1 gram overlap), and spans are reported
    * in gram-position space like [[duplicatedSpans]].
    *
    * APPROXIMATION CONTRACT: every span endpoint is a genuinely
    * duplicated gram (fingerprints are real duplicated grams), but the
    * wider merge gap means a winnowed span may BRIDGE two exact spans
    * separated by a non-duplicated gap of k+1..k+w-1 positions,
    * enclosing that gap's original text. Winnowed spans are therefore a
    * detection/reporting result (equal to [[duplicatedSpans]] re-merged
    * at gap k+w-1, restricted to selected fingerprints); to EXCISE text,
    * use [[duplicatedSpans]] and [[exciseSpans]], which never over-cut.
    */
  def winnowedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      w: Int = 8,
      minDocs: Int = 2,
      oracleParityHash: Boolean = false,
      segmentLen: Int = 4088): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val fingerprints = winnowedFingerprints(
      docs, idCol, textCol, k, w, oracleParityHash, segmentLen)
    val marked =
      if (minDocs == 2) {
        val wG = Window.partitionBy(col("gh"))
        fingerprints
          .withColumn("lo", min(col("doc_id")).over(wG))
          .withColumn("hi", max(col("doc_id")).over(wG))
          .filter(col("lo") =!= col("hi"))
          .select(col("doc_id"), col("pos"))
      } else {
        // a distinct-count threshold is not window-able (duplicatedSpans'
        // same caveat); the fingerprint frame is already winnowed small,
        // so the aggregate+join detour is cheap here
        val dup = fingerprints.groupBy(col("gh"))
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= minDocs)
          .select(col("gh"))
        fingerprints.join(dup, "gh").select(col("doc_id"), col("pos"))
      }
    islandsToSpans(marked, k, gap = k + w - 1)
  }

  /** The fingerprint-selection stage of [[winnowedSpans]]: the distinct
    * (doc_id, pos, gh) winnow-selected gram positions, before the
    * cross-document duplicate marking. Factored out so RecallSpec can
    * measure the selected-position fraction (the shuffle saving) without
    * re-implementing the window.
    */
  private[graft] def winnowedFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      oracleParityHash: Boolean,
      segmentLen: Int): DataFrame = {
    require(k >= 1, s"gram length must be positive, got $k")
    require(w >= 2, s"winnowing window must be >= 2, got $w")
    require(segmentLen >= w && segmentLen + w - 1 <= 4096,
      s"segmentLen must be in [$w, ${4096 - w + 1}] so local offsets fit " +
        s"the 12-bit key field, got $segmentLen")
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= k)
    // hash choice mirrors MinHashLSH.oracleParityHash: md5-derived 48 bits
    // reproduce bit-identically in DuckDB (the oracle form); xxhash64
    // masked to 48 bits is ~1.8x faster end-to-end and is the production
    // default — the md5 evaluation per gram dominates the whole query at
    // local scale, costing more than winnowing's shuffle saving returns.
    val gramExpr = expr(s"substr(text, pos, $k)")
    val gh48 =
      if (oracleParityHash)
        conv(substring(md5(gramExpr), 1, 12), 16, 10).cast("long")
      else pmod(xxhash64(gramExpr), lit(1L << 48))
    // segmented explode: segment j owns gram positions [j*S+1, (j+1)*S]
    // and additionally carries the next w-1 positions as lookahead, so a
    // w-window starting at any owned position is complete within the
    // segment. The overlap duplicates only (w-1)/S of the rows (~0.2%).
    val S = segmentLen
    val grams = base
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (k - 1)).as("npos"))
      .select(col("doc_id"), col("text"), col("npos"),
        explode(sequence(lit(0),
          expr(s"cast((npos - 1) div $S as int)"))).as("seg"))
      .select(col("doc_id"), col("text"), col("npos"), col("seg"),
        explode(sequence(col("seg") * S + 1,
          least(col("seg") * S + lit(S + w - 1), col("npos")))).as("pos"))
      .select(col("doc_id"), col("npos"), col("seg"), col("pos"),
        (gh48 * lit(4096L) +
          (lit(4095) - (col("pos") - col("seg") * S))).as("key"))
    val wWin = Window.partitionBy(col("doc_id"), col("seg")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("wmin", min(col("key")).over(wWin))
      // only FULL windows select (classic winnowing); the guarantee does
      // not need partial tail windows, and they would over-select. The
      // seg-ownership bound makes each window count exactly once across
      // segments (lookahead rows never start a window).
      .filter(col("pos") <= col("npos") - (w - 1) &&
        col("pos") <= (col("seg") + 1) * S)
      .select(col("doc_id"),
        (col("seg") * S + (lit(4095) - (col("wmin") % 4096)))
          .cast("int").as("pos"),
        expr("wmin div 4096").as("gh")) // div: `/` on longs is DOUBLE division
      .distinct()
  }

  /** Gaps-and-islands span assembly shared by the exhaustive and winnowed
    * forms: positions with consecutive gaps <= `gap` merge into one
    * maximal span `[min pos, max pos + k - 1]`.
    */
  private def islandsToSpans(marked: DataFrame, k: Int, gap: Int): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wOrd) > gap, 1).otherwise(0))
      .withColumn("grp", sum(col("brk"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1)
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
  }

  /** Saturation ceiling for the excise ACTION (round 16): the 1M-doc
    * composed-pipeline rehearsal showed k = 20 saturating on a 30-word
    * vocabulary — nearly EVERY text window recurred somewhere, the span
    * set covered 99.4% of all corpus characters, and excision silently
    * destroyed the corpus instead of deduplicating it (k = 40 restored the
    * intended semantics). Spans covering more than this fraction of all
    * characters are treated as evidence the gram width sits below the
    * corpus's collision floor, and the action fails loudly instead.
    * Corpora that are genuinely this duplicated (pure template dumps) opt
    * in with `maxCoverage = 1.0`.
    */
  val DefaultMaxCoverage: Double = 0.95

  /** The saturation check itself — two tiny jobs (a sum over the span
    * frame, one column-pruned length scan of the corpus), throwing the
    * typed saturation error when spans cover more than `maxCoverage` of
    * all characters. Call it ONCE per span artifact: a detect-once/act-many
    * span STORE runs it at build time (the q100/q105 store does), so every
    * later [[exciseSpans]] action inherits the verdict without re-scanning.
    */
  def coverageGuard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame,
      maxCoverage: Double = DefaultMaxCoverage): Unit = {
    require(maxCoverage > 0.0 && maxCoverage <= 1.0,
      s"maxCoverage must be in (0, 1], got $maxCoverage")
    val spanChars = spans
      .agg(coalesce(sum(col("span_end") - col("span_start") + 1), lit(0L)))
      .head().getLong(0)
    if (spanChars > 0) {
      val totalChars = docs
        .select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .agg(coalesce(sum(length(col("text")).cast("long")), lit(0L)))
        .head().getLong(0)
      val cov = spanChars.toDouble / math.max(1L, totalChars).toDouble
      require(cov <= maxCoverage,
        f"excise: duplicated spans cover ${cov * 100}%.1f%% of all corpus " +
          f"characters (ceiling ${maxCoverage * 100}%.0f%%) — at this " +
          "saturation the gram width is almost certainly below the " +
          "corpus's collision floor (every window of text recurs " +
          "somewhere), and excision would destroy the corpus rather than " +
          "deduplicate it. Raise k (the 1M-doc composition rehearsal " +
          "needed k = 40 where k = 20 saturated), or pass " +
          "maxCoverage = 1.0 to excise deliberately")
    }
  }

  /** The dedup ACTION over an ALREADY-COMPUTED span frame (doc_id,
    * span_start, span_end — [[duplicatedSpans]]'s shape): every document
    * with its duplicated spans cut out (Lee et al.'s aggressive mode — all
    * copies removed; pair with a cluster-representative step to keep
    * one). Output: (doc_id, clean_text, removed_chars); docs with no
    * duplicated span pass through unchanged, docs that are duplicated END
    * TO END become the empty string (a distinct case from "no spans" —
    * the kept-segment join produces no rows for both, so membership in
    * the span set is tracked explicitly). Taking the spans as input is the
    * production detect-once/act-many split: q100/q105 share one
    * per-dataset span artifact. The caller owns materialization of
    * `spans` (it is referenced three times here — pass a checkpointed or
    * persisted frame, never the raw gram pipeline).
    *
    * Stitching is relational: spans → complement segments via lag (the
    * gap BEFORE each span) plus one terminal segment per doc, then
    * per-doc ordered concat — collect_list of (start, seg) structs,
    * array_sort (lexicographic on the leading int), transform to drop the
    * key, array_join. The per-doc segment list is bounded by span count,
    * not corpus size, so the collect_list buffer is small and the whole
    * step stays one hash aggregate.
    */
  def exciseSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame,
      maxCoverage: Double = 1.0): DataFrame = {
    require(maxCoverage > 0.0 && maxCoverage <= 1.0,
      s"maxCoverage must be in (0, 1], got $maxCoverage")
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // the saturation guard (see [[DefaultMaxCoverage]]): DEFAULT OFF here
    // (1.0) because this is the detect-once/ACT-MANY entry point over a
    // caller-owned artifact (q105 re-runs it every bench sweep) — the
    // caller guards ONCE when the artifact is BUILT ([[coverageGuard]] at
    // the span-store site), rather than re-paying a corpus length scan per
    // action for the same verdict.
    if (maxCoverage < 1.0) coverageGuard(docs, idCol, textCol, spans, maxCoverage)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
    val mid = spans
      .withColumn("prev_end", lag(col("span_end"), 1, 0).over(w))
      .select(col("doc_id"), (col("prev_end") + 1).as("s"),
        (col("span_start") - 1).as("e"))
    val lastSeg = spans.groupBy(col("doc_id"))
      .agg(max(col("span_end")).as("last_end"))
      .join(base, "doc_id")
      .select(col("doc_id"), (col("last_end") + 1).as("s"),
        length(col("text")).as("e"))
    val kept = mid.union(lastSeg).filter(col("e") >= col("s"))
      .join(base, "doc_id")
      .select(col("doc_id"), col("s"), expr("substr(text, s, e - s + 1)").as("seg"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("s"), col("seg")))),
          x => x.getField("seg")), "").as("kept"))
    val hasSpan = spans.select(col("doc_id")).distinct()
      .withColumn("has_span", lit(true))
    val clean = when(col("has_span").isNull, col("text"))
      .otherwise(coalesce(col("kept"), lit("")))
    base.join(hasSpan, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), clean.as("clean_text"),
        (length(col("text")) - length(clean)).as("removed_chars"))
  }

  /** Maximal per-document spans of text duplicated (k-gram-exactly) across
    * >= minDocs distinct documents. Output: (doc_id, span_start, span_end,
    * span_len), 1-based inclusive character positions, ordered.
    *
    * NOTE: `singlePass` (None = auto by corpus-size estimate, see the
    * class doc) only applies when `minDocs == 2` — the min!=max window
    * trick cannot express a distinct-count threshold, so minDocs > 2
    * always takes the two-pass groupBy+join strategy regardless of the
    * flag (plan-shape expectations like q100's no-join audit hold only
    * for the default minDocs at sub-threshold corpus size).
    *
    * `maxGramFreq` (disabled when <= 0) drops grams occurring more than
    * that many times corpus-wide BEFORE span formation — the
    * `MinHashLSH.maxBucket` guard transplanted: at 100 TB a degenerate
    * near-constant gram (a run of spaces, a boilerplate line) would
    * otherwise concentrate one straggler group. Capped grams are treated
    * as NOT duplicated, so spans can shrink or split — a documented
    * recall trade, same as maxBucket's.
    */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      minDocs: Int = 2,
      hashShuffle: Boolean = false,
      singlePass: Option[Boolean] = None,
      maxGramFreq: Int = 0,
      gramSalt: Int = 0): DataFrame = {
    require(k >= 1, s"gram length must be positive, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(gramSalt >= 0 && gramSalt <= 4096,
      s"gramSalt must be in [0, 4096] (0 = derive), got $gramSalt")
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= k) // sequence(1, n) descends for n < 1
    val useWindowMarking = singlePass.getOrElse(autoSinglePass(base))
    val grams =
      if (hashShuffle) {
        // ONE linear pass per document (round 17): the explode+substr form
        // below re-walks the UTF8 string from byte 0 per position —
        // O(n²) codepoint steps per doc, measured as the 1M composition's
        // REAL excise straggler (220 s scan/explode map tasks on 70k-char
        // outlier docs; the round's gram-key salting left it untouched
        // because it was never reducer skew). gram_hashes emits the same
        // xxhash64(substr(text, pos, k)) values bit-for-bit from byte
        // slices over a single offset walk — see GramHashesF.
        graft.plans.GraftFunctions.register(docs.sparkSession)
        // fan-out rebalance BEFORE the explode: one document byte becomes
        // ~30 exchange bytes of gram rows, so input-FILE parallelism is
        // ~30× too coarse for the explode+hash+shuffle-write work — the 1M
        // composition measured 150–240 s scan-stage map tasks (33 file
        // splits) where the same work over shuffle.partitions round-robin
        // chunks is seconds. The rebalance exchange carries only the raw
        // docs (cheap), and both downstream consumers (dup aggregate +
        // join probe) REUSE it, so the corpus is scanned once.
        base
          .repartition()
          .select(col("doc_id"),
            posexplode(graft.plans.GraftFunctions.gramHashes(col("text"), k)))
          .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
      } else {
        // exact-string grams (the oracle-parity form): substr's per-call
        // walk is the price of carrying the strings at all — this variant
        // is for bounded/declared shapes, not the 100 TB path
        base
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
          .select(col("doc_id"), col("pos"),
            expr(s"substr(text, pos, $k)").as("gram"))
      }
    // minDocs == 2 (the standard dedup threshold) needs no COUNT(DISTINCT):
    // a gram occurs in >= 2 distinct docs iff min(doc_id) != max(doc_id) —
    // min/max are both window-able (single pass) and map-side combinable
    // (two-pass), where count_distinct is neither.
    val freqOk: Column => Column = cnt =>
      if (maxGramFreq > 0) cnt <= maxGramFreq else lit(true)
    val marked =
      if (useWindowMarking && minDocs == 2) {
        val wG = Window.partitionBy(col("gram"))
        grams
          .withColumn("lo", min(col("doc_id")).over(wG))
          .withColumn("hi", max(col("doc_id")).over(wG))
          .withColumn("cnt", count(lit(1)).over(wG))
          .filter(col("lo") =!= col("hi") && freqOk(col("cnt")))
          .select(col("doc_id"), col("pos"))
      } else {
        // SALTED co-partitioning (round 17, VERDICT r16 task 2): the 1M
        // composition's 352 s straggler was the two-pass exchange's
        // largest partition — a hot gram (boilerplate line, run of
        // spaces) puts ALL its positions in ONE partition via
        // repartition(gram), and neither AQE skew handling (blocked on a
        // user-specified repartition with a reused exchange) nor the
        // map-side combine (the JOIN side is unaggregated rows) can
        // split it. The fix is the SparseCosineJoin head-term shape
        // applied to the gram key: every position row salts by
        // hash(doc_id, pos) mod S, the dup-gram side replicates to all S
        // salts, and the ONE exchange moves to (gram, salt) — any gram's
        // sort group splits ~S ways, the (a, b) row still meets its dup
        // gram exactly once (at its own salt), so the marked set — and
        // every downstream span/excision — is byte-identical
        // (SubstringDedupSpec proves it). Costs vs S = 1: the aggregate
        // no longer rides the join's exchange (partial agg on the salted
        // partitions + one combined-row exchange on gram), and the dup
        // side replicates ×S — both bounded, both flat; the straggler
        // was neither. S derives from the corpus-size estimate
        // ([[derivedGramSalt]]) when `gramSalt = 0`; `gramSalt = 1`
        // forces the round-16 single-key plan.
        val s = if (gramSalt == 0) derivedGramSalt(base) else gramSalt
        val parted =
          if (s <= 1) grams.repartition(col("gram"))
          else grams
            .withColumn("gsalt",
              pmod(xxhash64(col("doc_id"), col("pos")), lit(s.toLong))
                .cast("int"))
            .repartition(col("gram"), col("gsalt"))
        val dup =
          if (minDocs == 2)
            parted.groupBy(col("gram"))
              .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
                count(lit(1)).as("cnt"))
              .filter(col("lo") =!= col("hi") && freqOk(col("cnt")))
              .select(col("gram"))
          else
            parted.groupBy(col("gram"))
              .agg(count_distinct(col("doc_id")).as("nd"),
                count(lit(1)).as("cnt"))
              .filter(col("nd") >= minDocs && freqOk(col("cnt")))
              .select(col("gram"))
        if (s <= 1)
          parted.join(dup, "gram")
            .select(col("doc_id"), col("pos"))
        else
          parted.join(
              dup.withColumn("gsalt",
                explode(sequence(lit(0), lit(s - 1)))),
              Seq("gram", "gsalt"))
            .select(col("doc_id"), col("pos"))
      }
    islandsToSpans(marked, k, gap = k)
  }
}
