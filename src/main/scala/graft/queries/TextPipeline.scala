package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents` (north star: dedup,
  * text analysis at 100 TB). These are the oracle-expressible forms; the
  * scale paths that have no SQL oracle (MinHash+LSH banding, SimHash,
  * embedding ANN) live in [[graft.operators]] with property-based tests.
  */
object TextPipeline {

  /** Token counting: whitespace tokens + regex word tokens + chars/token.
    * All per-row expressions — fully codegen'd, embarrassingly parallel.
    */
  private def q26(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+"), lit(0))).as("n_word_tokens"),
        col("n_chars"),
        round(col("n_chars") / size(split(col("text"), " ")), 4).as("chars_per_token"))
      .orderBy(col("doc_id"))

  private val q26Sql =
    """SELECT doc_id, lang,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '\w+')) AS INT) AS n_word_tokens,
      |  n_chars,
      |  ROUND(n_chars / len(string_split(text, ' ')), 4) AS chars_per_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private val stopwords = Seq("the", "a", "of", "and", "to")

  /** Quality scoring: stopword ratio, average token length, punctuation
    * count, composite score — per-row higher-order array expressions.
    */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nTokens = size(words)
    val nStop = size(filter(words, w => w.isInCollection(stopwords)))
    val sumLen = aggregate(words, lit(0), (acc, w) => acc + length(w))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        round(nStop / nTokens, 4).as("stop_ratio"),
        round(sumLen.cast("double") / nTokens, 4).as("avg_token_len"),
        size(regexp_extract_all(col("text"), lit("[^\\w\\s]"), lit(0))).as("n_punct"),
        round((lit(1.0) - nStop / nTokens) * least(nTokens, lit(100)) / 100.0, 4).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  private val q27Sql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  ROUND(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'a', 'of', 'and', 'to')))
      |    / len(string_split(text, ' ')), 4) AS stop_ratio,
      |  ROUND(CAST(list_sum(list_transform(string_split(text, ' '),
      |      w -> length(w))) AS DOUBLE)
      |    / len(string_split(text, ' ')), 4) AS avg_token_len,
      |  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS INT) AS n_punct,
      |  ROUND((1.0 - len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'a', 'of', 'and', 'to')))
      |    / len(string_split(text, ' ')))
      |    * LEAST(len(string_split(text, ' ')), 100) / 100.0, 4) AS quality_score
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Exact dedup by content hash (the scalable first pass of any dedup
    * pipeline): group on md5(text), keep lowest doc_id per group.
    */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("text_hash"))

  private val q28Sql =
    """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
      |FROM documents
      |GROUP BY 1
      |ORDER BY text_hash""".stripMargin

  /** Word-set Jaccard similarity between document pairs (the exact oracle
    * form of near-dup detection; bounded to doc_id < 40 because all-pairs
    * is quadratic by construction — the scale path is MinHash+LSH in
    * graft.operators.MinHashDedup).
    */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val dw = Tables.documents(s, dir)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
    val sizes = dw.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = dw.as("a")
      .join(dw.as("b"),
        col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q29Sql =
    """WITH dw AS (
      |  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
      |  FROM documents WHERE doc_id < 40
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM dw GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM dw a JOIN dw b ON a.word = b.word AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, n_inter,
      |  ROUND(n_inter / (sa.n + sb.n - n_inter), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** TF-IDF top-3 terms per document: two hash aggregations (term counts,
    * document frequency) + a broadcast scalar N + per-doc ranking window.
    * Ordering uses the ROUNDED score so a last-ulp ln() difference between
    * engines cannot flip ranks; word tie-break makes it total.
    */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Round-17 shape: df (docs containing the word) IS tf's row count per
    // word — the old plan exploded the corpus a second time, ran a
    // distinct + aggregate, and shuffled tf into a join just to attach a
    // count derivable from tf itself. One explode pass; df rides a
    // count-over-window on the word key (one exchange replaces the
    // distinct, the df aggregate, and the join). Same rows, driver-checked.
    // Round-18 re-measured the obvious "aggregate + join back" variant
    // (tf.groupBy(word).count ⋈ tf) and it was WORSE (0.88 → 1.06-1.25 s):
    // AQE did not reuse tf's exchange across the two readers, so the
    // corpus exploded twice — kept the window form.
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("word"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  private val q40Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), df AS (
      |  SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |    ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 4) AS score
      |  FROM tf JOIN df USING (word), n
      |)
      |SELECT doc_id, rn, word, tf, df, score
      |FROM (
      |  SELECT doc_id, word, tf, df, score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, word) AS INT) AS rn
      |  FROM scored
      |) t
      |WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  /** B29 — document chunking with overlap, the LLM context-window prep op:
    * 50-token chunks on a 40-token stride (10-token overlap), one output
    * row per chunk. Pure explode over a sequence of chunk starts — no
    * shuffle until the final deterministic ORDER BY; the token array is an
    * attribute below the Generate so it tokenizes once per doc.
    */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val chunk = 50
    val stride = 40
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(1), greatest(col("n"), lit(1)), lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        least(lit(chunk), col("n") - col("start") + 1).as("chunk_tokens"),
        element_at(col("toks"), col("start")).as("first_tok"),
        element_at(col("toks"), least(col("n"), col("start") + chunk - 1)).as("last_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val q57Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(FLOOR((start - 1) / 40.0) AS INT) AS chunk_idx,
      |  CAST(LEAST(50, n - start + 1) AS INT) AS chunk_tokens,
      |  toks[start] AS first_tok,
      |  toks[LEAST(n, start + 49)] AS last_tok
      |FROM t, UNNEST(generate_series(1, GREATEST(n, 1), 40)) AS u(start)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** B29 — deterministic sequence packing: docs are packed contiguously
    * (by doc_id) into 2048-token bins WITHIN each (source, shard) group,
    * where shard = doc_id div 1000 — each doc's bin is
    * floor(tokens-before-it / capacity). The compound key matters at scale:
    * a running sum partitioned ONLY by source puts each source's entire
    * corpus on one task (source cardinality is tiny), while the doc_id
    * sub-shard bounds every window partition at ~1000 rows regardless of
    * corpus size. The global-cumsum variant would be worse still — a
    * single-partition sort.
    */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val capacity = 2048
    val shard = floor(col("doc_id") / 1000.0).cast("int")
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), shard.as("shard"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("source"), col("shard"),
        floor(col("cum_before") / capacity.toDouble).cast("int").as("bin"),
        col("n_tokens"))
      .groupBy(col("source"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy(col("source"), col("shard"), col("bin"))
  }

  private val q58Sql =
    """SELECT source, shard, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      |FROM (
      |  SELECT source, shard,
      |    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
      |      / 2048.0) AS INT) AS bin,
      |    n_tokens
      |  FROM (
      |    SELECT doc_id, source,
      |      CAST(FLOOR(doc_id / 1000.0) AS INT) AS shard,
      |      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      |    FROM documents
      |  ) t
      |) b
      |GROUP BY source, shard, bin
      |ORDER BY source, shard, bin""".stripMargin

  /** PII redaction — the scrub step every training-data pipeline runs
    * before text leaves curation: regex-replace emails, phone numbers, and
    * IPv4 addresses with typed placeholders. The PII-shaped text is
    * composed deterministically from customer keys (the synthetic tables
    * carry no real PII), then redacted; the oracle verifies the redaction
    * byte-for-byte. Pure per-row projection: no shuffle, fully parallel,
    * and the patterns stay in RE2-compatible syntax so the same operator
    * runs under Java regex (Spark) and RE2 (DuckDB) identically.
    */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val msg = concat(
      col("c_name"), lit(" contact user"), col("c_custkey").cast("string"),
      lit("@mail.example.org or +1-555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" ip 10."), (col("c_custkey") % 200).cast("string"),
      lit("."), (col("c_custkey") % 256).cast("string"),
      lit("."), (col("c_custkey") % 100).cast("string"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), msg.as("m"))
      .select(col("c_custkey"), length(col("m")).cast("long").as("msg_len"),
        regexp_replace(regexp_replace(regexp_replace(col("m"),
          lit("[a-zA-Z0-9._#]+@[a-zA-Z0-9.]+\\.[a-zA-Z]+"), lit("[EMAIL]")),
          lit("\\+[0-9]-[0-9]{3}-[0-9]{4}"), lit("[PHONE]")),
          lit("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"), lit("[IP]"))
          .as("redacted"))
      .orderBy("c_custkey")
  }

  private val q77Sql =
    """WITH msg AS (
      |  SELECT c_custkey, c_name || ' contact user' || c_custkey ||
      |    '@mail.example.org or +1-555-' ||
      |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
      |    ' ip 10.' || (c_custkey % 200) || '.' || (c_custkey % 256) ||
      |    '.' || (c_custkey % 100) AS m
      |  FROM customer
      |)
      |SELECT c_custkey, CAST(length(m) AS BIGINT) AS msg_len,
      |  regexp_replace(regexp_replace(regexp_replace(m,
      |    '[a-zA-Z0-9._#]+@[a-zA-Z0-9.]+\.[a-zA-Z]+', '[EMAIL]', 'g'),
      |    '\+[0-9]-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
      |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS redacted
      |FROM msg ORDER BY c_custkey""".stripMargin

  /** Inverted-index build (token -> sorted posting list + document
    * frequency) — the retrieval-side structure for corpus search and
    * n-gram-overlap decontamination at scale. One explode + distinct +
    * hash aggregate; posting lists are sorted in-row (`sort_array`), so
    * the output is deterministic without a global sort of the postings.
    * At 100 TB the same plan holds: the aggregate shuffles (token, doc_id)
    * pairs once, and hot tokens (stopwords) can be capped with the q44
    * maxBucket convention before the collect_list.
    */
  private def q78(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string"))).as("postings"))
      .orderBy("token")

  private val q78Sql =
    """WITH t AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |)
      |SELECT token, count(*) AS df,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |FROM t WHERE token <> '' GROUP BY token ORDER BY token""".stripMargin

  /** Feature-hash text embedding (the hashing trick, Weinberger et al.) in
    * LONG FORM — the deterministic in-engine text→vector path: token →
    * slot = h60(token) mod 16, per-(doc, slot) counts, L2-normalized per
    * document. Makes the ANN family usable with no external embedding
    * model: PipelineSpec assembles these rows into vectors and runs exact
    * cosine top-k over them. Long form (doc_id, slot, w) rather than an
    * array column so DuckDB can mirror it exactly. Two exchanges, both
    * cheap at scale: the aggregate's on (doc_id, slot) carries map-side
    * combined counts, and the norm window's on doc_id carries the
    * compacted ≤16-rows-per-doc frame — not the token stream. The norm
    * divide is a single double op (deterministic), snapped with the
    * repo's floor-form rounding.
    */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val slot = pmod(graft.functions.TextHash.h60(col("tok")), lit(16L))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextHash.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), slot.as("slot"))
      .groupBy(col("doc_id"), col("slot"))
      .agg(count(lit(1)).as("c"))
      .withColumn("nrm", sqrt(sum(col("c") * col("c"))
        .over(Window.partitionBy(col("doc_id")))))
      .select(col("doc_id"), col("slot"),
        Parity.r4(col("c") / col("nrm")).as("w"))
      .orderBy(col("doc_id"), col("slot"))
  }

  private val q96Sql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 AS slot
      |  FROM t WHERE tok <> ''
      |), c AS (
      |  SELECT doc_id, slot, COUNT(*) AS c FROM s GROUP BY 1, 2
      |)
      |SELECT doc_id, slot,
      |  FLOOR(c / sqrt(SUM(c * c) OVER (PARTITION BY doc_id)) * 10000 + 0.5)
      |    / 10000.0 AS w
      |FROM c
      |ORDER BY doc_id, slot""".stripMargin

  /** The C4/Gopher-style filter CASCADE with an audit trail — production
    * filters never just drop rows, they record WHY (the reject reasons are
    * themselves a curation dataset: rule tuning reads them, and dropped-doc
    * audits need them). One pass over the corpus, one boolean column per
    * rule, kept = no rule fired. The repetition rule compares in INTEGER
    * arithmetic ((total−distinct)·100 > 55·total) so no float ratio exists
    * for the engines to disagree on.
    */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val total = size(toks)
    val distinctToks = size(array_distinct(toks))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        total.as("n_toks"), distinctToks.as("n_distinct"))
      .select(
        col("doc_id"),
        (col("n_chars") < 100).as("too_short"),
        (col("n_chars") > 500).as("too_long"),
        ((col("n_toks") - col("n_distinct")) * 100 > col("n_toks") * 55)
          .as("repetitive"),
        (!col("lang").isin("en", "de", "fr", "es", "zh")).as("lang_unknown"))
      .withColumn("kept",
        !col("too_short") && !col("too_long") &&
          !col("repetitive") && !col("lang_unknown"))
      .orderBy(col("doc_id"))
  }

  private val q97Sql =
    """SELECT doc_id, too_short, too_long, repetitive, lang_unknown,
      |  (NOT too_short AND NOT too_long AND NOT repetitive
      |    AND NOT lang_unknown) AS kept
      |FROM (
      |  SELECT doc_id,
      |    n_chars < 100 AS too_short,
      |    n_chars > 500 AS too_long,
      |    (len(string_split(text, ' '))
      |      - len(list_distinct(string_split(text, ' ')))) * 100
      |      > len(string_split(text, ' ')) * 55 AS repetitive,
      |    lang NOT IN ('en', 'de', 'fr', 'es', 'zh') AS lang_unknown
      |  FROM documents
      |)
      |ORDER BY doc_id""".stripMargin

  /** B29 — BM25 ranked retrieval (Robertson/Spärck Jones; k1 = 1.2,
    * b = 0.75): the inverted-index family's scoring half — given query
    * terms, rank documents by summed per-term BM25. Shape at scale: the
    * term filter cuts the token stream to the query's postings BEFORE any
    * shuffle (like a q78 index probe), doc-length stats are one tiny
    * aggregate broadcast back, and the final top-20 is
    * TakeOrderedAndProject. Log parity follows q40's precedent (ln +
    * round-4 hash-matches DuckDB); ties broken by doc_id.
    */
  /** BM25 scores for every matching doc — shared by q108 (ranked list)
    * and q116 (lexical leg of the hybrid fusion). Scores are rounded to 4
    * decimals BEFORE any ranking so rank order is engine-independent.
    */
  private def bm25Scored(s: SparkSession, dir: String,
      qTerms: Seq[String]): DataFrame = {
    // Round-17 shape: the query terms are LITERALS, so per-doc term
    // frequencies are conditional sums in the SAME aggregate that counts
    // doc length — ONE explode + groupBy(doc_id) pass (map-side partials)
    // replaces the old dl pass + hits pass + (doc, word) aggregate +
    // distinct + df aggregate + two joins. Corpus stats (n_docs, avgdl,
    // per-term document frequencies) fold to ONE broadcast row off the
    // same per-doc frame, and the score is the identical BM25 arithmetic
    // per term, summed in fixed term order (deterministic, where the old
    // sum aggregated ≤|terms| rows in partition order). Rows identical
    // (driver-checked oracle hash); exchanges 5 → 2 at any scale.
    // one tf_i column per LIST ELEMENT: a repeated term would be scored
    // once per copy where the old per-(doc, word) aggregate scored each
    // distinct word once (ADVICE r17) — latent with the literal callers,
    // pinned loudly here
    require(qTerms == qTerms.distinct,
      s"bm25Scored requires distinct query terms, got $qTerms")
    val (k1, b) = (1.2, 0.75)
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tfCols = qTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val statAggs = avg(col("dl")).as("avgdl") +:
      qTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val scoreTerms = qTerms.indices.map { i =>
      val tf = col(s"tf_$i")
      val idf = log((col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5) + 1.0)
      val norm = tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
      when(tf > 0, idf * tf * lit(k1 + 1.0) / norm).otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .filter(qTerms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .withColumn("score", round(scoreTerms.reduce(_ + _), 4))
      .select(col("doc_id"), col("score"))
  }

  private def q108(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir, Seq("spark", "join", "stream"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  private val q108Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
      |), dl AS (
      |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
      |), stats AS (
      |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
      |), hits AS (
      |  SELECT doc_id, word FROM toks WHERE word IN ('spark', 'join', 'stream')
      |), tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf FROM hits GROUP BY 1, 2
      |), df AS (
      |  SELECT word, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, word FROM hits) GROUP BY 1
      |)
      |SELECT tf.doc_id,
      |  ROUND(SUM(
      |    ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * tf.tf * 2.2
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
      |FROM tf
      |JOIN df ON df.word = tf.word
      |JOIN dl ON dl.doc_id = tf.doc_id
      |CROSS JOIN stats s
      |GROUP BY 1
      |ORDER BY score DESC, tf.doc_id
      |LIMIT 20""".stripMargin

  /** B29 — BM25 via the PERSISTED inverted index
    * ([[graft.operators.TextIndex]]): build once per dataset version (an on-disk [[graft.Artifacts]] value,
    * the q89/q90 lifecycle pattern), then score strictly from disk — the
    * query terms reach the postings parquet scan as a pushed In filter,
    * the corpus text is never touched. Same formula as q108, so the SAME
    * oracle SQL checks it: an indexed search that drifts from the inline
    * form fails the hash compare, not just a spec.
    */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Artifacts.onDisk("textidx", s, dir) { out =>
      graft.operators.TextIndex.buildTextIndex(
        Tables.documents(s, dir), "doc_id", "text", out)
    }
    graft.operators.TextIndex.bm25TopK(s, path, Seq("spark", "join", "stream"))
  }

  /** Hybrid retrieval (q116): the BM25 lexical ranking fused with an
    * embedding dot-product semantic ranking by Reciprocal Rank Fusion
    * ([[graft.operators.HybridSearch]]). The "query" is q108's terms plus
    * document 0's embedding (doc_id and vec_id share the 0..n-1 id space
    * in the testdata); doc 0 itself is excluded from both legs so the
    * query document does not retrieve itself. Both legs rank on
    * 4-decimal-rounded scores with an id tiebreak, so the ranks — and
    * therefore the fused scores — are engine-independent and the whole
    * fusion is oracle-checkable.
    */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val lex = bm25Scored(s, dir, Seq("spark", "join", "stream"))
      .filter(col("doc_id") =!= 0)
      .select(col("doc_id").as("id"), col("score"))
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val sem = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        round(graft.functions.VectorMath.dot(col("embedding"), col("q_emb")), 4).as("score"))
    graft.operators.HybridSearch.rrf(
      Seq(lex, sem), "id", "score", topK = 20, perListK = 50, rrfK = 60)
  }

  private val q116Sql =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
      |), dl AS (
      |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
      |), stats AS (
      |  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
      |), hits AS (
      |  SELECT doc_id, word FROM toks WHERE word IN ('spark', 'join', 'stream')
      |), tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf FROM hits GROUP BY 1, 2
      |), df AS (
      |  SELECT word, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, word FROM hits) GROUP BY 1
      |), bm AS (
      |  SELECT tf.doc_id AS id,
      |    ROUND(SUM(
      |      ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |        * tf.tf * 2.2
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
      |  FROM tf
      |  JOIN df ON df.word = tf.word
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats s
      |  WHERE tf.doc_id <> 0
      |  GROUP BY 1
      |), sem AS (
      |  SELECT e.vec_id AS id,
      |    ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |      CAST(q.embedding AS DOUBLE[])), 4) AS score
      |  FROM embeddings e,
      |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |  WHERE e.vec_id <> 0
      |), u AS (
      |  SELECT id, score, 1 AS list_id FROM bm
      |  UNION ALL
      |  SELECT id, score, 2 AS list_id FROM sem
      |), r AS (
      |  SELECT id, list_id,
      |    row_number() OVER (PARTITION BY list_id ORDER BY score DESC, id) AS rank
      |  FROM u
      |), f AS (
      |  SELECT * FROM r WHERE rank <= 50
      |)
      |SELECT id,
      |  MAX(CASE WHEN list_id = 1 THEN rank END) AS rank_1,
      |  MAX(CASE WHEN list_id = 2 THEN rank END) AS rank_2,
      |  FLOOR(SUM(1.0 / (60 + rank)) * 1000000 + 0.5) / 1000000.0 AS rrf_score
      |FROM f
      |GROUP BY 1
      |ORDER BY rrf_score DESC, id
      |LIMIT 20""".stripMargin

  /** Sparse TF-IDF cosine pairs (q117): the top document pairs by cosine
    * in TF-IDF space via [[graft.operators.SparseCosineJoin]]'s postings
    * self-join. Bounded to doc_id < 60 and EXPLICITLY uncapped
    * (maxDfFrac = 1.0) to pin the oracle contract independent of the auto
    * df-cap's constants — the 31-word corpus makes every term a stop term,
    * so the auto cap's scale behavior is spec-tested on a Zipfian corpus
    * instead (SparseCosineJoinSpec). The auto default would give the same
    * result here anyway (60 docs < the 256-df floor).
    */
  private def q117(s: SparkSession, dir: String): DataFrame =
    graft.operators.SparseCosineJoin.pairs(
      Tables.documents(s, dir).filter(col("doc_id") < 60),
      "doc_id", "text", maxDfFrac = 1.0)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  private val q117Sql =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 60
      |), toks AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM d
      |), tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), nd AS (
      |  SELECT COUNT(*) AS n FROM d
      |), df AS (
      |  SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
      |), w AS (
      |  SELECT tf.doc_id, tf.word, tf.tf * ln(nd.n / df.df) AS w
      |  FROM tf JOIN df ON df.word = tf.word CROSS JOIN nd
      |), nm AS (
      |  SELECT doc_id, sqrt(SUM(w * w)) AS nm FROM w GROUP BY 1
      |), dp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dp
      |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT dp.doc_a, dp.doc_b,
      |  ROUND(dp.dp / (na.nm * nb.nm), 4) AS cos_sim
      |FROM dp
      |JOIN nm na ON na.doc_id = dp.doc_a
      |JOIN nm nb ON nb.doc_id = dp.doc_b
      |ORDER BY cos_sim DESC, dp.doc_a, dp.doc_b
      |LIMIT 20""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q108_bm25", q108, Some(q108Sql)),
    QueryDef("q109_bm25_indexed", q109, Some(q108Sql)),
    QueryDef("q116_hybrid_rrf", q116, Some(q116Sql)),
    QueryDef("q117_sparse_cosine", q117, Some(q117Sql)),
    QueryDef("q96_feature_hash", q96, Some(q96Sql)),
    QueryDef("q97_filter_audit", q97, Some(q97Sql)),
    QueryDef("q26_token_stats", q26, Some(q26Sql)),
    QueryDef("q27_quality_score", q27, Some(q27Sql)),
    QueryDef("q28_dedup_exact_docs", q28, Some(q28Sql)),
    QueryDef("q29_word_jaccard", q29, Some(q29Sql)),
    QueryDef("q40_tfidf", q40, Some(q40Sql)),
    QueryDef("q57_chunking", q57, Some(q57Sql)),
    QueryDef("q58_sequence_packing", q58, Some(q58Sql)),
    QueryDef("q77_pii_redact", q77, Some(q77Sql)),
    QueryDef("q78_inverted_index", q78, Some(q78Sql)))
}
