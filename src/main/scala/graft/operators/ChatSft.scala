package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT / chat-data preparation: the assembly step that turns an
  * interaction log plus a content store into supervised fine-tuning
  * sequences — conversations are gap-sessionized, each turn is rendered
  * through a chat template (`<|role|>text` markers), and the spans that
  * carry LOSS (assistant turns) are computed as exact character offsets
  * into the rendered string so a trainer can mask everything else.
  *
  * All arithmetic is integer/string — no float parity surface — so every
  * step is exactly oracle-checkable cross-engine.
  *
  * Scale posture (100 TB interaction log):
  *   - sessionization is one window partitioned by user (lag + running
  *     sum — the q24 shape); per-partition state is one user's events;
  *   - rendering is one hash aggregate per conversation whose
  *     collect_list buffer is bounded by SESSION length (the gap bound),
  *     never by corpus size — the same bounded-struct-agg contract as
  *     SubstringDedup.exciseSpans stitching;
  *   - mask spans are a second window over the same (user, session)
  *     partitioning — Catalyst reuses one exchange for both;
  *   - the content store joins in by key; a bounded store broadcasts, an
  *     unbounded one hash-joins on id (both sides keyed, never all-pairs).
  */
object ChatSft {

  /** Interaction-type → chat-role mapping (configuration, not semantics:
    * real deployments map their own event taxonomy; the synthetic events
    * table maps browsing to user turns and system responses to assistant
    * turns).
    */
  val DefaultRoles: Map[String, String] = Map(
    "signup" -> "system", "view" -> "user", "error" -> "user",
    "click" -> "assistant", "purchase" -> "assistant")

  /** A role-map Column: CASE over the literal mapping (codegen-friendly;
    * unmapped types fall back to "user").
    */
  def roleOf(eventType: Column, roles: Map[String, String] = DefaultRoles): Column =
    coalesce(
      roles.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
        when(eventType === k, lit(v)).otherwise(acc)
      },
      lit("user"))

  /** Gap-sessionized, turn-indexed event stream: adds `session_id` (per
    * `userCol`, new session when the gap from the previous event exceeds
    * `gapUs` microseconds) and `turn_idx` (1-based within the session).
    * `tieCol` breaks timestamp ties deterministically.
    */
  def sessionTurns(
      events: DataFrame,
      userCol: String,
      tsUsCol: String,
      tieCol: String,
      gapUs: Long): DataFrame = {
    val wOrd = Window.partitionBy(col(userCol)).orderBy(col(tsUsCol), col(tieCol))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTurn = Window.partitionBy(col(userCol), col("session_id"))
      .orderBy(col(tsUsCol), col(tieCol))
    events
      .withColumn("prev_ts", lag(col(tsUsCol), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col(tsUsCol) - col("prev_ts") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
      .withColumn("turn_idx", row_number().over(wTurn))
      .drop("prev_ts", "is_new")
  }

  /** One rendered turn: `<|role|>text`. */
  def renderTurn(role: Column, text: Column): Column =
    concat(lit("<|"), role, lit("|>"), text)

  /** Per-conversation chat-template rendering: turns (already carrying
    * `session_id`/`turn_idx` from [[sessionTurns]]) → one row per
    * conversation with the ordered turns joined by `sep`. The struct
    * sort key is `turn_idx` (unique within the conversation), so the
    * aggregate is order-free and the result deterministic.
    *
    * Output: (userCol, session_id, n_turns, rendered).
    */
  def renderConversations(
      turns: DataFrame,
      userCol: String,
      roleCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame =
    turns
      .select(col(userCol), col("session_id"), col("turn_idx"),
        renderTurn(col(roleCol), col(textCol)).as("turn"))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_turns"),
        array_join(
          transform(array_sort(collect_list(struct(col("turn_idx"), col("turn")))),
            x => x.getField("turn")), sep).as("rendered"))

  /** Loss-mask spans: for every turn whose role is `lossRole`, the exact
    * 1-based inclusive character span it occupies inside the rendered
    * conversation string ([[renderConversations]] with the same `sep`).
    * A trainer masks loss to exactly these spans (assistant-only loss,
    * the standard SFT recipe).
    *
    * span_start(k) = 1 + Σ_{j<k} (len(turn_j) + len(sep)); the running
    * sum is one window over the (user, session) partitioning
    * sessionization already established.
    */
  def lossMaskSpans(
      turns: DataFrame,
      userCol: String,
      roleCol: String,
      textCol: String,
      lossRole: String = "assistant",
      sepLen: Int = 1): DataFrame = {
    val w = Window.partitionBy(col(userCol), col("session_id"))
      .orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns
      .select(col(userCol), col("session_id"), col("turn_idx"), col(roleCol).as("role"),
        length(renderTurn(col(roleCol), col(textCol))).as("turn_len"))
      .withColumn("cum_len", sum(col("turn_len")).over(w) - col("turn_len"))
      .filter(col("role") === lossRole)
      .select(col(userCol), col("session_id"), col("turn_idx"),
        (col("cum_len") + (col("turn_idx") - 1) * sepLen + 1).as("span_start"),
        (col("cum_len") + (col("turn_idx") - 1) * sepLen + col("turn_len")).as("span_end"))
  }
}
