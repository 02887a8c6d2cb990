package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.ChatSft

/** q155–q165: SFT / chat-data preparation ([[graft.operators.ChatSft]])
  * — the assembly pipeline that turns an interaction log plus a content
  * store into supervised fine-tuning sequences:
  *
  *   - q155 renders gap-sessionized conversations through a chat
  *     template (`<|role|>text` turns, newline-joined);
  *   - q156 computes the assistant-turn LOSS-MASK spans as exact
  *     character offsets into the rendered string;
  *   - q157 packs conversations into fixed token-budget bins and
  *     accounts loss tokens per bin (the number SFT batch efficiency is
  *     measured by); q161 is its efficiency card and q163 the
  *     packing-strategy A/B (quotient vs first-fit vs best-fit-decreasing);
  *   - q158–q160, q162: preference pairs, conversation near-dup detect
  *     and its dedup ACTION, and the span-remapping packing action;
  *   - q164–q165: the hard-capacity best-fit-decreasing ACTIONS the A/B
  *     motivates in the large-conversation regime — per-conversation BFD
  *     bin assignments, and the trainer's loss-mask table remapped into
  *     BFD packed-sequence coordinates (q160's remap under q164's bins).
  *
  * The synthetic wiring: conversations are the q24 30-minute-gap
  * sessions of `events`; each event's turn text is fetched from the
  * `documents` content store by `event_id % 500` (the content-store
  * broadcast-join shape); event types map to roles via
  * [[ChatSft.DefaultRoles]] (configuration, like q77's synthetic PII).
  * Everything is integer/string arithmetic — fully oracle-checkable.
  */
object SftPrep {

  private val GapUs = 1800000000L // 30 minutes
  private val StoreIds = 500      // content-store ids: every sf has docs 0..499
  private val TurnChars = 80
  private val Capacity = 2048

  /** The turn-level frame shared by all three queries: sessionized,
    * turn-indexed, role-mapped events with their content-store text.
    * The store join BROADCASTS (500 rows by construction); every event
    * survives it (ids are pmod-complete), so sessionization above the
    * join sees the full stream.
    */
  private def turns(s: SparkSession, dir: String): DataFrame = {
    // Shared by all three queries as a per-dataset-version artifact (the
    // dupSpans/lpaLabels shape): sessionization + the content join run
    // once; the frame is integer/string-deterministic and round-trips
    // parquet exactly.
    val p = graft.Artifacts.onDisk("chatturns", s, dir) { out =>
      val store = Tables.documents(s, dir).filter(col("doc_id") < StoreIds)
        .select(col("doc_id"), substring(col("text"), 1, TurnChars).as("turn_text"))
      // Parity invariant (round-10 advice): the Scala pipeline sessionizes
      // AFTER this inner join while the DuckDB prelude sessionizes BEFORE
      // its join — equivalent ONLY while the join drops nothing, i.e.
      // every id 0..StoreIds-1 exists in this dataset's documents table.
      // A dataset violating that would shift session boundaries between
      // the engines and surface as opaque oracle hash drift; fail loudly
      // instead.
      val nStore = store.count()
      require(nStore == StoreIds.toLong,
        s"content store has $nStore of $StoreIds ids in $dir — the " +
          "sessionize-after-join parity contract needs all of doc_id 0.." +
          s"${StoreIds - 1} present (see turnsSqlPrelude)")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          ChatSft.roleOf(col("event_type")).as("role"),
          pmod(col("event_id"), lit(StoreIds)).as("doc_id"))
        .join(broadcast(store), "doc_id")
      ChatSft.sessionTurns(ev, "user_id", "ts_us", "event_id", GapUs)
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private val turnsSqlPrelude =
    s"""WITH t AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    CASE event_type WHEN 'signup' THEN 'system' WHEN 'view' THEN 'user'
       |      WHEN 'error' THEN 'user' WHEN 'click' THEN 'assistant'
       |      WHEN 'purchase' THEN 'assistant' ELSE 'user' END AS role,
       |    event_id % $StoreIds AS did
       |  FROM events
       |), sess AS (
       |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM (
       |    SELECT t.*, CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
       |      WHEN ts_us - LAG(ts_us) OVER w > $GapUs THEN 1 ELSE 0 END AS is_new
       |    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |  ) flagged
       |), turns AS (
       |  SELECT sess.user_id, sess.session_id, sess.ts_us, sess.event_id, sess.role,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY sess.user_id, sess.session_id
       |      ORDER BY sess.ts_us, sess.event_id) AS INT) AS turn_idx,
       |    '<|' || sess.role || '|>' || substr(d.text, 1, $TurnChars) AS turn
       |  FROM sess JOIN documents d ON d.doc_id = sess.did
       |)""".stripMargin

  /** B29/B36 — chat-template rendering per conversation. */
  private def q155(s: SparkSession, dir: String): DataFrame =
    ChatSft.renderConversations(turns(s, dir), "user_id", "role", "turn_text")
      .select(col("user_id"), col("session_id"), col("n_turns"),
        length(col("rendered")).as("n_chars"),
        substring(col("rendered"), 1, 64).as("head"))
      .orderBy(col("user_id"), col("session_id"))

  private val q155Sql =
    s"""$turnsSqlPrelude
       |SELECT user_id, session_id, COUNT(*) AS n_turns,
       |  CAST(len(string_agg(turn, chr(10) ORDER BY ts_us, event_id)) AS INT) AS n_chars,
       |  substr(string_agg(turn, chr(10) ORDER BY ts_us, event_id), 1, 64) AS head
       |FROM turns GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** B29 — assistant-turn loss-mask spans (1-based inclusive character
    * offsets into q155's rendered string).
    */
  private def q156(s: SparkSession, dir: String): DataFrame =
    maskSpans(s, dir)
      .orderBy(col("user_id"), col("session_id"), col("turn_idx"))

  private val q156Sql =
    s"""$turnsSqlPrelude
       |SELECT user_id, session_id, turn_idx,
       |  CAST(cum + (turn_idx - 1) + 1 AS BIGINT) AS span_start,
       |  CAST(cum + (turn_idx - 1) + tl AS BIGINT) AS span_end
       |FROM (
       |  SELECT user_id, session_id, turn_idx, role,
       |    CAST(len(turn) AS INT) AS tl,
       |    CAST(SUM(CAST(len(turn) AS INT)) OVER (
       |      PARTITION BY user_id, session_id ORDER BY turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - CAST(len(turn) AS INT) AS cum
       |  FROM turns
       |) x
       |WHERE role = 'assistant'
       |ORDER BY user_id, session_id, turn_idx""".stripMargin

  /** B29 — token-budget packing with loss-token accounting: conversations
    * pack contiguously (by user_id, session_id) into $Capacity-token bins
    * WITHIN each user-decade shard — the q58 sub-shard contract: the
    * running sum's window partition is bounded by the shard, not the
    * corpus.
    *
    * Bin semantics (round-10 advice): bins are CUMULATIVE-QUOTIENT bins —
    * `bin = floor(cum_before / Capacity)` — and conversations never
    * split, so a conversation straddling a boundary counts wholly in the
    * earlier bin and `bin_tokens` MAY exceed Capacity (as may any single
    * conversation longer than Capacity). Capacity is the packing target,
    * not a hard per-bin cap; q161's efficiency card reports the resulting
    * overflow/waste explicitly.
    */
  /** Per-conversation token totals with the q157/q160 shard key — the
    * input row set of every packing variant below.
    */
  private def convTokens(s: SparkSession, dir: String): DataFrame =
    // round 17: served from the shared `chatconv` artifact (see convStore)
    convStore(s, dir)
      .select(col("user_id"), col("session_id"), col("n_tokens"),
        col("loss_tokens"), col("shard"))

  /** The q157 per-(shard, bin) aggregate under the cumulative-quotient
    * contract — shared by q157 (the packing) and q161 (its efficiency
    * card).
    */
  private def packedBins(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("user_id"), col("session_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    convTokens(s, dir)
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("shard"),
        floor(col("cum_before") / Capacity.toDouble).cast("int").as("bin"),
        col("n_tokens"), col("loss_tokens"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_convs"), sum(col("n_tokens")).as("bin_tokens"),
        sum(col("loss_tokens")).as("loss_tokens"))
  }

  private def q157(s: SparkSession, dir: String): DataFrame =
    packedBins(s, dir).orderBy(col("shard"), col("bin"))

  private val q157Sql =
    s"""$turnsSqlPrelude
       |, conv AS (
       |  SELECT user_id, session_id,
       |    CAST(SUM(CAST(len(string_split(turn, ' ')) AS INT)) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN role = 'assistant'
       |      THEN CAST(len(string_split(turn, ' ')) AS INT) ELSE 0 END) AS BIGINT)
       |      AS loss_tokens
       |  FROM turns GROUP BY 1, 2
       |), binned AS (
       |  SELECT CAST(FLOOR(user_id / 10.0) AS INT) AS shard,
       |    CAST(FLOOR((CAST(SUM(n_tokens) OVER (
       |      PARTITION BY CAST(FLOOR(user_id / 10.0) AS INT)
       |      ORDER BY user_id, session_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - n_tokens) / $Capacity.0) AS INT) AS bin,
       |    n_tokens, loss_tokens
       |  FROM conv
       |)
       |SELECT shard, bin, COUNT(*) AS n_convs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       |  CAST(SUM(loss_tokens) AS BIGINT) AS loss_tokens
       |FROM binned GROUP BY shard, bin
       |ORDER BY shard, bin""".stripMargin

  /** B29/B34 — q158: preference-pair assembly (the DPO/RLHF data shape):
    * within every (lang, source) candidate group, pair the HIGHEST-
    * quality document against the LOWEST as (chosen, rejected) with the
    * score margin. Quality comes from the q120 trained centroid
    * classifier via its per-(session, dataset) score artifact — train
    * once, consume everywhere — and the oracle replays feature build +
    * training + scoring + both ranked picks in one statement.
    * Deterministic ties: (score, doc_id). Groups that cannot yield a
    * REAL preference drop: single-doc groups, and groups whose
    * candidates ALL tie on score (both argmaxes resolve to the same
    * doc — a zero-margin "pair" carries no training signal). Scale: ONE
    * hash aggregate —
    * `max(struct(score, -doc_id))` / `min(struct(score, doc_id))` are
    * the ranked picks with the same tie-breaks (lexicographic struct
    * compare; the q149 argmax rewrite) — map-side combining, one
    * exchange, no sort-window and no self-join; never all-pairs.
    */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val cand = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(Classifier.cachedCentroidScores(s, dir)
        .select(col("doc_id"), col("score")), "doc_id")
    cand.groupBy(col("lang"), col("source"))
      .agg(
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("mx"),
        min(struct(col("score"), col("doc_id"))).as("mn"))
      .select(col("lang"), col("source"),
        (-col("mx.nid")).as("chosen_id"), col("mn.doc_id").as("rejected_id"),
        Parity.r4(col("mx.score") - col("mn.score")).as("margin"))
      .filter(col("chosen_id") =!= col("rejected_id"))
      .orderBy(col("lang"), col("source"))
  }

  private def q158Sql: String = Classifier.featSql + Classifier.centroidScoreCtes +
    """
      |, cand AS (
      |  SELECT d.doc_id, d.lang, d.source, s.score
      |  FROM documents d JOIN scores s USING (doc_id)
      |), best AS (
      |  SELECT lang, source, doc_id AS chosen_id, score AS chosen_score
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
      |          ORDER BY score DESC, doc_id) AS rn FROM cand) t
      |  WHERE rn = 1
      |), worst AS (
      |  SELECT lang, source, doc_id AS rejected_id, score AS rejected_score
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
      |          ORDER BY score ASC, doc_id) AS rn FROM cand) t
      |  WHERE rn = 1
      |)
      |SELECT b.lang, b.source, b.chosen_id, w.rejected_id,
      |  FLOOR((b.chosen_score - w.rejected_score) * 10000 + 0.5) / 10000.0
      |    AS margin
      |FROM best b JOIN worst w USING (lang, source)
      |WHERE b.chosen_id <> w.rejected_id
      |ORDER BY lang, source""".stripMargin

  /** B20/B29 — q159: CONVERSATION near-dup (SFT corpora are deduped at
    * the conversation level before training — templated flows produce
    * near-identical rendered transcripts): SimHash over each rendered
    * conversation, bounded all-pairs at Hamming ≤ 3 (the q31 oracle-twin
    * pattern; the unbounded path is `SimHash.candidatePairs` over the
    * same fingerprints, proven complete in DedupSpec). The user_id < 5 slice
    * bounds the pair space for the oracle; fingerprints reuse the shared
    * turns artifact.
    */
  /** Rendered-conversation SimHash fingerprints of the user_id < 5 oracle
    * slice — the DETECT stage shared by q159 (pair listing) and q162 (the
    * dedup action), built once per dataset version like the turns artifact
    * (integer fingerprints round-trip parquet exactly; a drift between the
    * two queries' fingerprinting is structurally impossible).
    */
  private def convFingerprints(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Artifacts.onDisk("convsimhash", s, dir) { out =>
      graft.operators.ChatSft.renderConversations(
          turns(s, dir).filter(col("user_id") < 5), "user_id", "role", "turn_text")
        .select(col("user_id"), col("session_id"),
          graft.operators.SimHash.simhashOfText(col("rendered")).as("simhash"))
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private def q159(s: SparkSession, dir: String): DataFrame = {
    val sh = convFingerprints(s, dir)
    val a = sh.select(col("user_id").as("user_a"), col("session_id").as("sess_a"),
      col("simhash").as("h_a"))
    val b = sh.select(col("user_id").as("user_b"), col("session_id").as("sess_b"),
      col("simhash").as("h_b"))
    a.join(b, col("user_a") < col("user_b") ||
        (col("user_a") === col("user_b") && col("sess_a") < col("sess_b")))
      .withColumn("hamming", graft.operators.SimHash.hamming(col("h_a"), col("h_b")))
      .filter(col("hamming") <= 3)
      .select(col("user_a"), col("sess_a"), col("user_b"), col("sess_b"),
        col("hamming"))
      .orderBy(col("user_a"), col("sess_a"), col("user_b"), col("sess_b"))
  }

  private def q159Sql: String =
    s"""$turnsSqlPrelude
       |, convr AS (
       |  SELECT user_id, session_id,
       |    string_agg(turn, chr(10) ORDER BY ts_us, event_id) AS rendered
       |  FROM turns WHERE user_id < 5 GROUP BY 1, 2
       |), ctok AS (
       |  SELECT user_id, session_id,
       |    unnest(list_distinct(string_split(rendered, ' '))) AS t
       |  FROM convr
       |), cth AS (
       |  SELECT user_id, session_id,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM ctok
       |), bitsum AS (
       |  SELECT user_id, session_id, b,
       |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
       |  FROM cth, range(0, 32) r(b) GROUP BY 1, 2, 3
       |), sh AS (
       |  SELECT user_id, session_id,
       |    SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
       |  FROM bitsum GROUP BY 1, 2
       |)
       |SELECT a.user_id AS user_a, a.session_id AS sess_a,
       |  b.user_id AS user_b, b.session_id AS sess_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sh a JOIN sh b
       |  ON a.user_id < b.user_id
       |   OR (a.user_id = b.user_id AND a.session_id < b.session_id)
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY user_a, sess_a, user_b, sess_b""".stripMargin

  /** B29 — q160: the packing ACTION closing the q157 loop (the
    * q100→q105 detect/act split applied to packing): conversations
    * concatenate into their bins ("\n\n"-separated, in the q157 packing
    * order) and every assistant loss-mask span is REMAPPED into
    * packed-sequence character coordinates — the (seq_start, seq_end)
    * table a trainer actually masks with. Offsets are one running-length
    * window over the (shard, bin) partitioning q157 established; spans
    * join per conversation. All integer arithmetic.
    */
  /** Per-conversation token total and rendered length — ONE definition of
    * the render contract (the "\n" turn joiner, turn_idx order) shared by
    * q160's quotient offsets and q165's BFD offsets, so the two packing
    * coordinate systems cannot drift on what a conversation renders to.
    *
    * Round 17: materialized (together with [[convTokens]]' loss-token
    * column) as the per-dataset-version `chatconv` on-disk artifact — the
    * turns/lpaLabels shape. Six declared queries (q157/q160/q161/q163/
    * q164/q165) each re-rendered every turn and re-aggregated per
    * conversation on every sweep (~0.4–0.8 s each at sf0.1); the rendered-
    * conversation stats table is the classic build-once store (it IS what
    * a production packer reads), all columns integer/length-deterministic,
    * so the parquet round-trip is value-identical to inline.
    */
  private def convStore(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Artifacts.onDisk("chatconv", s, dir) { out =>
      val turnCol = ChatSft.renderTurn(col("role"), col("turn_text"))
      val nt = size(split(turnCol, " "))
      turns(s, dir)
        .select(col("user_id"), col("session_id"), col("turn_idx"),
          col("role"), turnCol.as("turn"), nt.as("nt"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(sum(col("nt")).as("n_tokens"),
          sum(when(col("role") === "assistant", col("nt")).otherwise(0L))
            .as("loss_tokens"),
          length(array_join(
            transform(array_sort(collect_list(struct(col("turn_idx"), col("turn")))),
              x => x.getField("turn")), "\n")).as("r_len"))
        .withColumn("shard", floor(col("user_id") / 10.0).cast("int"))
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private def convRendered(s: SparkSession, dir: String): DataFrame =
    convStore(s, dir)
      .select(col("user_id"), col("session_id"), col("n_tokens"), col("r_len"))

  /** q156/q160/q165's loss-mask span table as the `chatspans` on-disk
    * artifact (round 17) — same rationale as `chatconv`: three queries
    * re-ran the per-turn render + window per sweep; the span table is
    * integer-deterministic and round-trips parquet exactly.
    */
  private def maskSpans(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Artifacts.onDisk("chatspans", s, dir) { out =>
      ChatSft.lossMaskSpans(turns(s, dir), "user_id", "role", "turn_text")
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private def q160(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = convRendered(s, dir)
    val wBin = Window.partitionBy(col("shard"))
      .orderBy(col("user_id"), col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = conv
      .withColumn("shard", floor(col("user_id") / 10.0).cast("int"))
      .withColumn("cum_before", sum(col("n_tokens")).over(wBin) - col("n_tokens"))
      .withColumn("bin", floor(col("cum_before") / Capacity.toDouble).cast("int"))
    val wOff = Window.partitionBy(col("shard"), col("bin"))
      .orderBy(col("user_id"), col("session_id"))
    val offs = binned
      .withColumn("conv_off",
        sum(col("r_len")).over(wOff.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - col("r_len")
          + (row_number().over(wOff) - 1) * 2L)
      .select(col("user_id"), col("session_id"), col("shard"), col("bin"),
        col("conv_off"))
    maskSpans(s, dir)
      .join(offs, Seq("user_id", "session_id"))
      .select(col("shard"), col("bin"), col("user_id"), col("session_id"),
        col("turn_idx"),
        (col("conv_off") + col("span_start")).as("seq_start"),
        (col("conv_off") + col("span_end")).as("seq_end"))
      .orderBy(col("shard"), col("bin"), col("seq_start"))
  }

  private def q160Sql: String =
    s"""$turnsSqlPrelude
       |, convq AS (
       |  SELECT user_id, session_id,
       |    CAST(SUM(CAST(len(string_split(turn, ' ')) AS INT)) AS BIGINT) AS n_tokens,
       |    CAST(len(string_agg(turn, chr(10) ORDER BY ts_us, event_id)) AS INT) AS r_len
       |  FROM turns GROUP BY 1, 2
       |), binnedq AS (
       |  SELECT user_id, session_id, r_len,
       |    CAST(FLOOR(user_id / 10.0) AS INT) AS shard,
       |    CAST(FLOOR((CAST(SUM(n_tokens) OVER (
       |      PARTITION BY CAST(FLOOR(user_id / 10.0) AS INT)
       |      ORDER BY user_id, session_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - n_tokens) / $Capacity.0) AS INT) AS bin
       |  FROM convq
       |), offs AS (
       |  SELECT user_id, session_id, shard, bin,
       |    CAST(SUM(r_len) OVER (PARTITION BY shard, bin
       |        ORDER BY user_id, session_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - r_len
       |      + 2 * (ROW_NUMBER() OVER (PARTITION BY shard, bin
       |          ORDER BY user_id, session_id) - 1) AS conv_off
       |  FROM binnedq
       |), sp AS (
       |  SELECT user_id, session_id, turn_idx,
       |    CAST(cum + (turn_idx - 1) + 1 AS BIGINT) AS span_start,
       |    CAST(cum + (turn_idx - 1) + tl AS BIGINT) AS span_end
       |  FROM (
       |    SELECT user_id, session_id, turn_idx, role,
       |      CAST(len(turn) AS INT) AS tl,
       |      CAST(SUM(CAST(len(turn) AS INT)) OVER (
       |        PARTITION BY user_id, session_id ORDER BY turn_idx
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        - CAST(len(turn) AS INT) AS cum
       |    FROM turns
       |  ) x
       |  WHERE role = 'assistant'
       |)
       |SELECT o.shard, o.bin, s.user_id, s.session_id, s.turn_idx,
       |  CAST(o.conv_off + s.span_start AS BIGINT) AS seq_start,
       |  CAST(o.conv_off + s.span_end AS BIGINT) AS seq_end
       |FROM sp s JOIN offs o USING (user_id, session_id)
       |ORDER BY shard, bin, seq_start""".stripMargin

  /** B29 — q161: the packing-EFFICIENCY card for q157's cumulative-
    * quotient bins (the card SftPrep's bin-semantics doc promises): per
    * bin, the overflow past Capacity (quotient bins may straddle — a
    * boundary conversation counts wholly in the earlier bin), the padding
    * a trainer would burn filling the bin to Capacity, the waste fraction
    * (padding / Capacity), and the loss-token share of the bin (the
    * fraction of packed tokens that actually train). Pure integer
    * arithmetic plus two r4-snapped ratios of integers — exactly
    * oracle-checkable. The strategy A/B (true first-fit vs
    * best-fit-decreasing under a HARD Capacity) is q163.
    */
  private def q161(s: SparkSession, dir: String): DataFrame =
    packedBins(s, dir)
      .withColumn("overflow_tokens",
        greatest(lit(0L), col("bin_tokens") - Capacity.toLong))
      .withColumn("padding_tokens",
        greatest(lit(0L), lit(Capacity.toLong) - col("bin_tokens")))
      .withColumn("waste_frac",
        Parity.r4(col("padding_tokens") / Capacity.toDouble))
      .withColumn("loss_share",
        Parity.r4(col("loss_tokens").cast("double") / col("bin_tokens")))
      .orderBy(col("shard"), col("bin"))

  private val q161Sql =
    s"""$turnsSqlPrelude
       |, conv AS (
       |  SELECT user_id, session_id,
       |    CAST(SUM(CAST(len(string_split(turn, ' ')) AS INT)) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN role = 'assistant'
       |      THEN CAST(len(string_split(turn, ' ')) AS INT) ELSE 0 END) AS BIGINT)
       |      AS loss_tokens
       |  FROM turns GROUP BY 1, 2
       |), binned AS (
       |  SELECT CAST(FLOOR(user_id / 10.0) AS INT) AS shard,
       |    CAST(FLOOR((CAST(SUM(n_tokens) OVER (
       |      PARTITION BY CAST(FLOOR(user_id / 10.0) AS INT)
       |      ORDER BY user_id, session_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - n_tokens) / $Capacity.0) AS INT) AS bin,
       |    n_tokens, loss_tokens
       |  FROM conv
       |), card AS (
       |  SELECT shard, bin, COUNT(*) AS n_convs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       |    CAST(SUM(loss_tokens) AS BIGINT) AS loss_tokens
       |  FROM binned GROUP BY shard, bin
       |)
       |SELECT shard, bin, n_convs, bin_tokens, loss_tokens,
       |  GREATEST(0, bin_tokens - $Capacity) AS overflow_tokens,
       |  GREATEST(0, $Capacity - bin_tokens) AS padding_tokens,
       |  FLOOR(CAST(GREATEST(0, $Capacity - bin_tokens) AS DOUBLE)
       |    / $Capacity.0 * 10000 + 0.5) / 10000.0 AS waste_frac,
       |  FLOOR(CAST(loss_tokens AS DOUBLE) / bin_tokens * 10000 + 0.5)
       |    / 10000.0 AS loss_share
       |FROM card
       |ORDER BY shard, bin""".stripMargin

  /** Packed (user_id, session_id) → one long — conversations need a single
    * node id for cluster formation; session ids are per-user cumulative
    * counts, bounded far below 2^20 by the per-user event cap.
    */
  private val PackMul = 1L << 20

  /** B20/B41 — q162: the conversation-dedup ACTION closing q159's loop
    * (the q100→q105 / q112→q113 detect/act split applied to the SFT
    * family): near-dup conversation pairs (Hamming ≤ 3 on the rendered-
    * transcript SimHash, q159's detect step) form duplicate clusters via
    * [[graft.operators.DedupClusters]]; each cluster keeps its LOWEST
    * (user_id, session_id) representative and carries `dup_count` (the
    * cluster size — how many near-identical transcripts the survivor
    * stands for), so packing a deduped corpus can still weight by
    * multiplicity. Singletons survive with dup_count = 1. Same user_id < 5
    * oracle slice as q159; the unbounded path is the same pipeline over
    * `SimHash.candidatePairs`.
    */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    // contract guard: the packing is only injective while session_id stays
    // under PackMul — if the per-user event cap ever grows past 2^20
    // sessions, ids would silently collide and clusters would merge
    // wrongly. raise_error makes the drift fail loudly inside the plan
    // (no extra action), not as corrupted output.
    val convs = convFingerprints(s, dir)
      .withColumn("session_id",
        when(col("session_id") >= PackMul, expr(
          s"raise_error(concat('q162: session_id ', session_id, " +
            s"' >= $PackMul breaks the (user_id, session_id) packing contract'))"))
          .otherwise(col("session_id")))
      .withColumn("cid", col("user_id") * PackMul + col("session_id"))
    val a = convs.select(col("cid").as("id_a"), col("simhash").as("h_a"))
    val b = convs.select(col("cid").as("id_b"), col("simhash").as("h_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .filter(graft.operators.SimHash.hamming(col("h_a"), col("h_b")) <= 3)
      .select(col("id_a"), col("id_b"))
    graft.operators.DedupClusters.clusterAssignments(convs, "cid", pairs)
      .filter(col("cid") === col("cluster_id"))
      .select(floor(col("cid") / PackMul.toDouble).cast("long").as("user_id"),
        pmod(col("cid"), lit(PackMul)).as("session_id"),
        col("cluster_size").as("dup_count"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private def q162Sql: String =
    s"""${turnsSqlPrelude.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")}
       |, convr AS (
       |  SELECT user_id, session_id,
       |    string_agg(turn, chr(10) ORDER BY ts_us, event_id) AS rendered
       |  FROM turns WHERE user_id < 5 GROUP BY 1, 2
       |), ctok AS (
       |  SELECT user_id, session_id,
       |    unnest(list_distinct(string_split(rendered, ' '))) AS t
       |  FROM convr
       |), cth AS (
       |  SELECT user_id, session_id,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM ctok
       |), bitsum AS (
       |  SELECT user_id, session_id, b,
       |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
       |  FROM cth, range(0, 32) r(b) GROUP BY 1, 2, 3
       |), sh AS (
       |  SELECT user_id, session_id,
       |    CAST(user_id AS BIGINT) * $PackMul + session_id AS cid,
       |    SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
       |  FROM bitsum GROUP BY 1, 2
       |), pairs AS (
       |  SELECT a.cid AS id_a, b.cid AS id_b
       |  FROM sh a JOIN sh b ON a.cid < b.cid
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
       |), comp AS (
       |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |), labeled AS (
       |  SELECT c.cid, COALESCE(k.cluster_id, c.cid) AS cluster_id
       |  FROM sh c LEFT JOIN comp k ON k.id = c.cid
       |), counted AS (
       |  -- the size window must run BEFORE the representative filter
       |  -- (WHERE evaluates before window functions in the same SELECT)
       |  SELECT cid, cluster_id,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS dup_count
       |  FROM labeled
       |)
       |SELECT CAST(FLOOR(cid / $PackMul.0) AS BIGINT) AS user_id,
       |  cid % $PackMul AS session_id, dup_count
       |FROM counted
       |WHERE cid = cluster_id
       |ORDER BY user_id, session_id""".stripMargin

  /** B29 — q163: the packing-strategy A/B the q161 card motivates
    * ([[graft.operators.Packing.strategyAb]] — quotient vs TRUE first-fit
    * vs best-fit-decreasing, per shard, plus the ceil(total/Capacity)
    * lower bound; all integer arithmetic; the operator doc carries the
    * per-shard sequential-fold scale contract). The oracle replays both
    * greedy folds as recursive CTEs carrying the bin-fill list.
    */
  private def q163(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.strategyAb(
      convTokens(s, dir)
        .select(col("shard"), col("user_id").cast("long").as("k1"),
          col("session_id").cast("long").as("k2"), col("n_tokens")),
      Capacity.toLong)
      .orderBy(col("shard"))

  /** One recursive bin-fill fold as SQL: `$tag` prefixes the CTE names,
    * `$orderExpr` fixes the placement order, `$posExpr` picks the bin
    * (first-fit: first that fits; best-fit: fullest that fits —
    * `list_position` on the max qualifying fill, first index on ties).
    * Not-found is 0 in DuckDB's `list_position`, not NULL.
    */
  private def packFoldCtes(tag: String, orderExpr: String, posExpr: String) =
    s"""${tag}_ordered AS (
       |  SELECT shard, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY $orderExpr) AS rn,
       |    COUNT(*) OVER (PARTITION BY shard) AS n
       |  FROM convt
       |), ${tag}_fold AS (
       |  SELECT shard, 0::BIGINT AS i, CAST([] AS BIGINT[]) AS fills, MAX(n) AS n
       |  FROM ${tag}_ordered GROUP BY shard
       |  UNION ALL
       |  SELECT p.shard, p.i + 1,
       |    CASE WHEN x.pos = 0 THEN p.fills || [o.n_tokens]
       |         ELSE p.fills[1:x.pos-1] || [p.fills[x.pos] + o.n_tokens] || p.fills[x.pos+1:] END,
       |    p.n
       |  FROM ${tag}_fold p
       |  JOIN ${tag}_ordered o ON o.shard = p.shard AND o.rn = p.i + 1,
       |  LATERAL (SELECT $posExpr AS pos) x
       |), ${tag}_done AS (
       |  SELECT shard, CAST(len(fills) AS BIGINT) AS bins,
       |    CAST(list_sum(list_transform(fills,
       |      f -> GREATEST(0, $Capacity - f))) AS BIGINT) AS padding
       |  FROM ${tag}_fold WHERE i = n
       |)""".stripMargin

  private def q163Sql: String = {
    val ffPos =
      s"""COALESCE(list_position(
         |      list_transform(p.fills, f -> f + o.n_tokens <= $Capacity),
         |      true), 0)""".stripMargin
    val bfdPos =
      s"""COALESCE(list_position(p.fills, list_max(
         |      list_filter(p.fills, f -> f + o.n_tokens <= $Capacity))), 0)""".stripMargin
    s"""${turnsSqlPrelude.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")}
       |, convt AS (
       |  SELECT CAST(FLOOR(user_id / 10.0) AS INT) AS shard,
       |    user_id, session_id,
       |    CAST(SUM(CAST(len(string_split(turn, ' ')) AS INT)) AS BIGINT) AS n_tokens
       |  FROM turns GROUP BY 2, 3
       |), quotient AS (
       |  SELECT shard, bin, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
       |  FROM (
       |    SELECT shard,
       |      CAST(FLOOR((CAST(SUM(n_tokens) OVER (PARTITION BY shard
       |        ORDER BY user_id, session_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        - n_tokens) / $Capacity.0) AS INT) AS bin,
       |      n_tokens
       |    FROM convt
       |  ) b GROUP BY shard, bin
       |), qstats AS (
       |  SELECT shard, COUNT(*) AS q_bins,
       |    CAST(SUM(GREATEST(0, $Capacity - bin_tokens)) AS BIGINT) AS q_padding,
       |    CAST(SUM(GREATEST(0, bin_tokens - $Capacity)) AS BIGINT) AS q_overflow
       |  FROM quotient GROUP BY shard
       |), ${packFoldCtes("ff", "user_id, session_id", ffPos)}
       |, ${packFoldCtes("bfd", "n_tokens DESC, user_id, session_id", bfdPos)}
       |, totals AS (
       |  SELECT shard, COUNT(*) AS n_convs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(SUM(CASE WHEN n_tokens > $Capacity THEN 1 ELSE 0 END) AS BIGINT)
       |      AS oversize_convs,
       |    CAST(SUM(GREATEST(0, n_tokens - $Capacity)) AS BIGINT)
       |      AS oversize_overflow,
       |    CAST(SUM(CASE WHEN n_tokens > $Capacity THEN 1 ELSE 0 END)
       |      + (SUM(CASE WHEN n_tokens <= $Capacity THEN n_tokens ELSE 0 END)
       |         + ${Capacity - 1}) // $Capacity AS BIGINT)
       |      AS lb_bins
       |  FROM convt GROUP BY shard
       |)
       |SELECT t.shard, t.n_convs, t.total_tokens, t.oversize_convs,
       |  t.oversize_overflow, t.lb_bins, q.q_bins, q.q_padding, q.q_overflow,
       |  f.bins AS ff_bins, f.padding AS ff_padding,
       |  d.bins AS bfd_bins, d.padding AS bfd_padding
       |FROM totals t
       |JOIN qstats q USING (shard)
       |JOIN ff_done f USING (shard)
       |JOIN bfd_done d USING (shard)
       |ORDER BY t.shard""".stripMargin
  }

  /** B29 — q164: the packing-strategy ACTION closing the q163 A/B loop
    * (the q100→q105 detect/act split applied to packing strategy): every
    * conversation gets its hard-capacity BEST-FIT-DECREASING bin id
    * ([[graft.operators.Packing.bfdAssignments]] — 1-based, bin-creation
    * order per shard; oversize conversations open their own bin), the
    * assignment a trainer in the large-conversation regime packs by. The
    * oracle replays the BFD fold as a recursive CTE that carries the
    * chosen bin per step alongside the fill list.
    */
  /** The bin-carrying BFD recursive fold q164Sql and q165Sql both replay
    * (ONE copy, so the two oracles cannot drift on placement semantics):
    * `bfda_ordered` ranks `convt` by the placement order — extra columns
    * ride along for the caller's final projection — and `bfda_fold`
    * carries the per-shard fill list plus the bin chosen at each step.
    * Callers join `bfda_fold` to `bfda_ordered` on (shard, rn = i),
    * skipping the i = 0 seed row.
    */
  private def bfdBinFoldCtes(extraOrderedCols: String): String =
    s""", bfda_ordered AS (
       |  SELECT shard, user_id, session_id, n_tokens$extraOrderedCols,
       |    ROW_NUMBER() OVER (PARTITION BY shard
       |      ORDER BY n_tokens DESC, user_id, session_id) AS rn
       |  FROM convt
       |), bfda_fold AS (
       |  SELECT shard, 0::BIGINT AS i, CAST([] AS BIGINT[]) AS fills,
       |    0::BIGINT AS bin
       |  FROM bfda_ordered GROUP BY shard
       |  UNION ALL
       |  SELECT p.shard, p.i + 1,
       |    CASE WHEN x.pos = 0 THEN p.fills || [o.n_tokens]
       |         ELSE p.fills[1:x.pos-1] || [p.fills[x.pos] + o.n_tokens] || p.fills[x.pos+1:] END,
       |    CAST(CASE WHEN x.pos = 0 THEN len(p.fills) + 1 ELSE x.pos END AS BIGINT)
       |  FROM bfda_fold p
       |  JOIN bfda_ordered o ON o.shard = p.shard AND o.rn = p.i + 1,
       |  LATERAL (SELECT COALESCE(list_position(p.fills, list_max(
       |      list_filter(p.fills, f -> f + o.n_tokens <= $Capacity))), 0) AS pos) x
       |)""".stripMargin

  private def q164(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.bfdAssignments(
      convTokens(s, dir)
        .select(col("shard"), col("user_id").cast("long").as("k1"),
          col("session_id").cast("long").as("k2"), col("n_tokens")),
      Capacity.toLong)
      .select(col("shard"), col("k1").as("user_id"), col("k2").as("session_id"),
        col("n_tokens"), col("bin"))
      .orderBy(col("shard"), col("user_id"), col("session_id"))

  private def q164Sql: String =
    s"""${turnsSqlPrelude.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")}
       |, convt AS (
       |  SELECT CAST(FLOOR(user_id / 10.0) AS INT) AS shard,
       |    user_id, session_id,
       |    CAST(SUM(CAST(len(string_split(turn, ' ')) AS INT)) AS BIGINT) AS n_tokens
       |  FROM turns GROUP BY 2, 3
       |)${bfdBinFoldCtes("")}
       |SELECT o.shard, CAST(o.user_id AS BIGINT) AS user_id,
       |  o.session_id, o.n_tokens, CAST(f.bin AS INT) AS bin
       |FROM bfda_fold f
       |JOIN bfda_ordered o ON o.shard = f.shard AND o.rn = f.i
       |WHERE f.i >= 1
       |ORDER BY o.shard, o.user_id, o.session_id""".stripMargin

  /** B29 — q165: the trainer-facing sequence table under the q164 BFD
    * assignments — q160's span-remap applied to the hard-capacity packing
    * (q160 remaps under the cumulative-quotient contract; a trainer in the
    * large-conversation regime packs by q164's bins instead and needs the
    * same (seq_start, seq_end) mask table in THOSE coordinates).
    * Concatenation order within a bin is the BFD placement order —
    * (n_tokens desc, user_id, session_id), i.e. the global per-shard
    * placement rank restricted to the bin — with the q160 "\n\n" joiner,
    * so offsets are one running-length window over (shard, bin). The
    * oracle reuses q164's recursive BFD fold and carries r_len through it.
    */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val conv = convRendered(s, dir)
      .select(col("user_id").cast("long").as("user_id"), col("session_id"),
        col("n_tokens"), col("r_len"))
      .withColumn("shard", floor(col("user_id") / 10.0).cast("int"))
    val asg = graft.operators.Packing.bfdAssignments(
      conv.select(col("shard"), col("user_id").as("k1"),
        col("session_id").cast("long").as("k2"), col("n_tokens")),
      Capacity.toLong)
      .select(col("shard"), col("k1").as("user_id"), col("k2").as("session_id"),
        col("n_tokens"), col("bin"))
    val wOff = Window.partitionBy(col("shard"), col("bin"))
      .orderBy(col("n_tokens").desc, col("user_id"), col("session_id"))
    val offs = asg
      .join(conv.select(col("user_id"),
        col("session_id").cast("long").as("session_id"), col("r_len")),
        Seq("user_id", "session_id"))
      .withColumn("conv_off",
        sum(col("r_len")).over(wOff.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - col("r_len")
          + (row_number().over(wOff) - 1) * 2L)
      .select(col("user_id"), col("session_id"), col("shard"), col("bin"),
        col("conv_off"))
    maskSpans(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("session_id").cast("long").as("session_id"),
        col("turn_idx"), col("span_start"), col("span_end"))
      .join(offs, Seq("user_id", "session_id"))
      .select(col("shard"), col("bin"), col("user_id"), col("session_id"),
        col("turn_idx"),
        (col("conv_off") + col("span_start")).as("seq_start"),
        (col("conv_off") + col("span_end")).as("seq_end"))
      .orderBy(col("shard"), col("bin"), col("seq_start"))
  }

  private def q165Sql: String =
    s"""${turnsSqlPrelude.replaceFirst("WITH t AS", "WITH RECURSIVE t AS")}
       |, convt AS (
       |  SELECT CAST(FLOOR(user_id / 10.0) AS INT) AS shard,
       |    user_id, session_id,
       |    CAST(SUM(CAST(len(string_split(turn, ' ')) AS INT)) AS BIGINT) AS n_tokens,
       |    CAST(len(string_agg(turn, chr(10) ORDER BY ts_us, event_id)) AS INT) AS r_len
       |  FROM turns GROUP BY 1, 2, 3
       |)${bfdBinFoldCtes(", r_len")}
       |, asg AS (
       |  SELECT o.shard, o.user_id, o.session_id, o.r_len, o.rn,
       |    CAST(f.bin AS INT) AS bin
       |  FROM bfda_fold f
       |  JOIN bfda_ordered o ON o.shard = f.shard AND o.rn = f.i
       |  WHERE f.i >= 1
       |), offs AS (
       |  SELECT shard, bin, user_id, session_id,
       |    CAST(SUM(r_len) OVER (PARTITION BY shard, bin ORDER BY rn
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - r_len
       |      + 2 * (ROW_NUMBER() OVER (PARTITION BY shard, bin ORDER BY rn) - 1)
       |      AS conv_off
       |  FROM asg
       |), sp AS (
       |  SELECT user_id, session_id, turn_idx,
       |    CAST(cum + (turn_idx - 1) + 1 AS BIGINT) AS span_start,
       |    CAST(cum + (turn_idx - 1) + tl AS BIGINT) AS span_end
       |  FROM (
       |    SELECT user_id, session_id, turn_idx, role,
       |      CAST(len(turn) AS INT) AS tl,
       |      CAST(SUM(CAST(len(turn) AS INT)) OVER (
       |        PARTITION BY user_id, session_id ORDER BY turn_idx
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        - CAST(len(turn) AS INT) AS cum
       |    FROM turns
       |  ) x
       |  WHERE role = 'assistant'
       |)
       |SELECT o.shard, o.bin, CAST(s.user_id AS BIGINT) AS user_id,
       |  CAST(s.session_id AS BIGINT) AS session_id, s.turn_idx,
       |  CAST(o.conv_off + s.span_start AS BIGINT) AS seq_start,
       |  CAST(o.conv_off + s.span_end AS BIGINT) AS seq_end
       |FROM sp s
       |JOIN offs o ON o.user_id = s.user_id AND o.session_id = s.session_id
       |ORDER BY o.shard, o.bin, seq_start""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q155_chat_render", q155, Some(q155Sql)),
    QueryDef("q156_loss_mask_spans", q156, Some(q156Sql)),
    QueryDef("q157_sft_pack", q157, Some(q157Sql)),
    QueryDef("q158_preference_pairs", q158, Some(q158Sql)),
    QueryDef("q159_conversation_neardup", q159, Some(q159Sql)),
    QueryDef("q160_sft_sequences", q160, Some(q160Sql)),
    QueryDef("q161_pack_efficiency", q161, Some(q161Sql)),
    QueryDef("q162_conversation_dedup_action", q162, Some(q162Sql)),
    QueryDef("q163_pack_ab", q163, Some(q163Sql)),
    QueryDef("q164_pack_bfd_action", q164, Some(q164Sql)),
    QueryDef("q165_pack_bfd_sequences", q165, Some(q165Sql)))
}
