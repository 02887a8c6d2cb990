package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Bpe

/** Declared queries for the in-engine BPE tokenizer trainer
  * ([[graft.operators.Bpe]]): q122 learns 6 merge rules from the corpus
  * and emits the merge table; q123 encodes the corpus with the learned
  * vocabulary and emits per-document token counts. BOTH oracles replay
  * TRAINING, not just its output: the DuckDB SQL unrolls the identical
  * argmax+replace iterations (generated CTE-by-CTE below from the same
  * iteration count), so a drift in tie-breaking, pair counting, or merge
  * application fails the hash compare.
  */
object Tokenizer {

  private[queries] val NMerges = 6

  /** The trained BPE vocabulary once per dataset version and session:
    * q122/q123/q128/q129/q136 all consume the identical deterministic
    * training run (train once, encode everywhere — the tokenizer IS a
    * persisted artifact in any real pipeline). The dict frame is already
    * checkpoint-truncated by the trainer's per-merge rule, and so bound to
    * the session that trained it: a second session retrains (identical
    * merges by determinism).
    */
  private[queries] def cachedBpe(s: SparkSession, dir: String)
      : (Seq[Bpe.Merge], org.apache.spark.sql.DataFrame) =
    graft.Artifacts.sessionFrame("bpe", s, dir)(
      Bpe.train(Bpe.wordTypes(Tables.documents(s, dir), "text"), NMerges))

  /** Per-document BPE token counts under the learned vocabulary, once per
    * dataset version and session — q129 and BudgetSelect share the
    * corpus encode (explode + dictionary join + per-doc aggregate); the
    * count frame is deterministic given the trained dict (integers, no
    * float order sensitivity), so it is the same artifact class as the
    * dict itself. */
  private[queries] def cachedEncodeCounts(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Artifacts.sessionFrame("bpe_counts", s, dir) {
      val (_, dict) = cachedBpe(s, dir)
      Bpe.encodeCounts(Tables.documents(s, dir), dict, "doc_id", "text")
        .localCheckpoint(true)
    }

  /** Unrolled DuckDB training prelude: wt0 … wt`n`, m1 … m`n`. Generated,
    * not hand-copied, so the Spark loop and the SQL agree on `n` by
    * construction.
    */
  private[queries] def trainSql(n: Int): String = {
    val sb = new StringBuilder(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), w0 AS (
        |  SELECT word, COUNT(*) AS freq FROM toks WHERE word <> '' GROUP BY 1
        |), wt0 AS (
        |  SELECT word, freq,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS sym
        |  FROM w0
        |)""".stripMargin)
    for (i <- 1 to n) {
      sb.append(s""", pr$i AS (
        |  SELECT a[i] AS l, a[i + 1] AS r, SUM(freq) AS cnt
        |  FROM (SELECT freq, string_split(trim(sym), ' ') AS a FROM wt${i - 1}) t
        |  CROSS JOIN UNNEST(generate_series(1, len(a) - 1)) AS g(i)
        |  GROUP BY 1, 2
        |), m$i AS (
        |  SELECT l, r, cnt FROM pr$i ORDER BY cnt DESC, l, r LIMIT 1
        |), wt$i AS (
        |  SELECT word, freq,
        |    replace(replace(replace(sym, ' ', '  '),
        |      ' ' || m.l || '  ' || m.r || ' ',
        |      ' ' || m.l || m.r || ' '), '  ', ' ') AS sym
        |  FROM wt${i - 1} CROSS JOIN m$i m
        |)""".stripMargin)
    }
    sb.toString
  }

  /** q122: the learned merge table. Training runs at plan-construction
    * time via `NMerges` 1-row argmax collects (the bounded-trainer
    * pattern; DESIGN.md §5's determination covers the property).
    */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = cachedBpe(s, dir)
    Bpe.mergeTable(s, merges).orderBy(col("rank"))
  }

  private val q122Sql = trainSql(NMerges) + "\n" +
    (1 to NMerges)
      .map(i => s"SELECT $i AS rank, l, r, l || r AS merged, " +
        s"CAST(cnt AS BIGINT) AS cnt FROM m$i")
      .mkString(" UNION ALL ") +
    " ORDER BY rank"

  /** q123: per-document token counts under the learned vocabulary —
    * the dictionary-join encode path over the full corpus, run inline so
    * the query measures the encode.
    */
  private def q123(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeCounts(Tables.documents(s, dir), cachedBpe(s, dir)._2,
        "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q123Sql = trainSql(NMerges) +
    s""", enc AS (
      |  SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
      |    AS n_pieces
      |  FROM wt$NMerges
      |)
      |SELECT t.doc_id, CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces
      |FROM toks t JOIN enc e ON e.word = t.word
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q128: token-BUDGET-aware source mixing — q74's pretraining mix
    * weights recomputed over MODEL-VISIBLE tokens (the learned BPE
    * vocabulary's piece counts, q123) instead of whitespace words. This
    * is the quantity a training run actually budgets: a source of long
    * agglutinative words carries more BPE tokens per whitespace word, so
    * its uniform-mix weight differs from q74's. Whole trajectory
    * (training + encoding + mixing) is oracle-replayed.
    */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) = Parity.r6(c)
    val docs = Tables.documents(s, dir)
    val (_, dict) = cachedBpe(s, dir)
    val pieces = dict.select(col("word"),
      size(split(trim(col("sym")), " ")).cast("long").as("n_pieces"))
    val tok = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(pieces, "word")
      .groupBy(col("source")).agg(sum(col("n_pieces")).as("tokens"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val perSource = nd.join(tok, "source")
      // checkpoint: feeds the broadcast totals AND the main select through
      // different exchange types (no reuse) — without it the corpus
      // explode + dictionary join runs twice (the q129/q74 finding)
      .localCheckpoint(true)
    val totals = perSource.agg(
      sum(col("tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("tokens"),
        r6(col("tokens") / col("corpus_tokens")).as("share"),
        r6((col("corpus_tokens") / col("n_sources")) / col("tokens"))
          .as("uniform_weight"))
      .orderBy(col("source"))
  }

  private val q128Sql = trainSql(NMerges) +
    s""", enc AS (
      |  SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
      |    AS n_pieces
      |  FROM wt$NMerges
      |), srctoks AS (
      |  SELECT d.source, unnest(string_split(d.text, ' ')) AS word
      |  FROM documents d
      |), per AS (
      |  SELECT t.source, CAST(SUM(e.n_pieces) AS BIGINT) AS tokens
      |  FROM srctoks t JOIN enc e ON e.word = t.word
      |  WHERE t.word <> ''
      |  GROUP BY 1
      |), nd AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
      |    COUNT(*) AS n_sources FROM per
      |)
      |SELECT per.source, nd.n_docs, per.tokens,
      |  FLOOR(per.tokens / tot.corpus_tokens * 1000000 + 0.5) / 1000000.0
      |    AS share,
      |  FLOOR((tot.corpus_tokens / tot.n_sources) / per.tokens * 1000000
      |    + 0.5) / 1000000.0 AS uniform_weight
      |FROM per JOIN nd ON nd.source = per.source, tot
      |ORDER BY per.source""".stripMargin

  /** q136: tokenizer fertility audit — BPE pieces per whitespace word by
    * (source, lang), THE standard multilingual tokenizer-quality metric
    * (a language whose words fragment into many pieces pays more of the
    * model's context budget per word; cf. the fertility tables in
    * multilingual tokenizer papers). Composes the trained vocabulary with
    * a per-(source, lang) aggregate; training + encoding + the ratio are
    * all oracle-replayed.
    */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (_, dict) = cachedBpe(s, dir)
    val pieces = dict.select(col("word"),
      size(split(trim(col("sym")), " ")).cast("long").as("n_pieces"))
    docs
      .select(col("source"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(pieces, "word")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_tokens"),
        Parity.r4(sum(col("n_pieces")) / count(lit(1))).as("fertility"))
      .orderBy(col("source"), col("lang"))
  }

  private val q136Sql = trainSql(NMerges) +
    s""", enc AS (
      |  SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
      |    AS n_pieces
      |  FROM wt$NMerges
      |), sl AS (
      |  SELECT d.source, d.lang, unnest(string_split(d.text, ' ')) AS word
      |  FROM documents d
      |)
      |SELECT t.source, t.lang, COUNT(*) AS n_words,
      |  CAST(SUM(e.n_pieces) AS BIGINT) AS n_tokens,
      |  FLOOR(SUM(e.n_pieces) / COUNT(*) * 10000 + 0.5) / 10000.0
      |    AS fertility
      |FROM sl t JOIN enc e ON e.word = t.word
      |WHERE t.word <> ''
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Unrolled WordPiece training prelude (mirrors [[trainSql]] but ranks
    * merges by the likelihood score `cnt/cl/cr` — two left-associative
    * divisions, matching [[graft.operators.Bpe.trainWordPiece]] exactly).
    * `wt{i}` and `sy{i}` are MATERIALIZED: each round's type table feeds
    * the pair counts, the symbol counts, AND the next round (DuckDB
    * inlines per reference site — the q134 lesson).
    */
  private[queries] def trainWpSql(n: Int): String = {
    val sb = new StringBuilder(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), w0 AS (
        |  SELECT word, COUNT(*) AS freq FROM toks WHERE word <> '' GROUP BY 1
        |), wt0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS sym
        |  FROM w0
        |)""".stripMargin)
    for (i <- 1 to n) {
      sb.append(s""", pr$i AS (
        |  SELECT a[i] AS l, a[i + 1] AS r, SUM(freq) AS cnt
        |  FROM (SELECT freq, string_split(trim(sym), ' ') AS a FROM wt${i - 1}) t
        |  CROSS JOIN UNNEST(generate_series(1, len(a) - 1)) AS g(i)
        |  GROUP BY 1, 2
        |), sy$i AS MATERIALIZED (
        |  SELECT s, SUM(freq) AS c FROM (
        |    SELECT freq, unnest(string_split(trim(sym), ' ')) AS s
        |    FROM wt${i - 1}) t
        |  GROUP BY 1
        |), m$i AS (
        |  SELECT p.l, p.r, p.cnt
        |  FROM pr$i p JOIN sy$i a ON a.s = p.l JOIN sy$i b ON b.s = p.r
        |  ORDER BY p.cnt / a.c / b.c DESC, p.l, p.r LIMIT 1
        |), wt$i AS MATERIALIZED (
        |  SELECT word, freq,
        |    replace(replace(replace(sym, ' ', '  '),
        |      ' ' || m.l || '  ' || m.r || ' ',
        |      ' ' || m.l || m.r || ' '), '  ', ' ') AS sym
        |  FROM wt${i - 1} CROSS JOIN m$i m
        |)""".stripMargin)
    }
    sb.toString
  }

  /** q145: the WordPiece-scored merge table — same trainer shape as
    * q122's BPE but with likelihood-ranked selection; the oracle replays
    * every argmax (pair counts ⋈ unigram counts, two-division score,
    * (l, r) ties) and every merge application.
    */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = Bpe.trainWordPiece(
      Bpe.wordTypes(Tables.documents(s, dir), "text"), NMerges)
    Bpe.mergeTable(s, merges).orderBy(col("rank"))
  }

  private val q145Sql = trainWpSql(NMerges) + "\n" +
    (1 to NMerges)
      .map(i => s"SELECT $i AS rank, l, r, l || r AS merged, " +
        s"CAST(cnt AS BIGINT) AS cnt FROM m$i")
      .mkString(" UNION ALL ") +
    " ORDER BY rank"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q122_bpe_train", q122, Some(q122Sql)),
    QueryDef("q123_bpe_encode", q123, Some(q123Sql)),
    QueryDef("q128_token_budget_mix", q128, Some(q128Sql)),
    QueryDef("q136_tokenizer_fertility", q136, Some(q136Sql)),
    QueryDef("q145_wordpiece_train", q145, Some(q145Sql)))
}
