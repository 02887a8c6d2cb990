package graft.queries

import graft.Tables
import graft.functions.TextHash
import graft.operators.{DedupClusters, MinHashLSH, QualityClassifier, SimHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between "raw crawl" and "training
  * set" that a 100 TB data pipeline runs after dedup: incremental dedup of
  * new batches against a persisted index, deterministic train/val/test
  * splitting, text normalization, repetition-based quality signals
  * (C4/Gopher-style), benchmark decontamination, duplicate-cluster
  * representative selection, deterministic corpus shuffling, and
  * language-balanced sampling.
  *
  * All eight are oracle-checked: every hash/"random" choice is a
  * deterministic md5-derived value ([[TextHash.h60]]) reproducible in
  * DuckDB, so even the sampling/shuffling queries hash-match exactly.
  * Scale posture per query in its Scaladoc.
  */
object Curation {

  /** B20 — INCREMENTAL near-dup dedup: an existing corpus (doc_id < 300) is
    * indexed once ([[MinHashLSH.bandIndex]]); a new batch (doc_id 300..399)
    * joins the index on (band, bucket-key) — cost scales with the batch,
    * not the corpus. The full pipeline (signature → band join → exact
    * Jaccard verify >= 0.6) is hash-checked via the md5 parity hash family.
    */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    // The 400-row slice (bounded by the literal at any corpus size) feeds
    // FOUR plan subtrees — existing/batch band indexes and both verify
    // shingle sides — and the batch/existing filters differ, so exchange
    // reuse cannot collapse them: unchecked, the plan re-runs the parquet
    // scan (a fixed ~0.17 s single-row-group read at sf0.1) four times.
    // Materializing the slice once cuts q63 ~1.32 -> ~1.0 s (r18 probe).
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 400)
      .localCheckpoint(true)
    val existing = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300)
    val lsh = MinHashLSH(numHashes = 12, numBands = 3, shingleSize = 1,
      oracleParityHash = true)
    val index = lsh.bandIndex(existing, "doc_id", "text")
    val cands = lsh.candidatesAgainstIndex(batch, "doc_id", "text", index)
      .select(col("new_id").as("id_a"), col("index_id").as("id_b"))
    // floor(x*1e4+0.5), not round(): |intersect|/|union| can have a
    // power-of-two denominator, landing exactly on the .5 boundary where
    // Spark (HALF_UP) and DuckDB (half-even) disagree (q66 convention)
    val j4 = Parity.r4(col("jaccard"))
    lsh.verifyJaccard(cands, docs, "doc_id", "text")
      .filter(j4 >= 0.6)
      .select(col("id_a").as("new_id"), col("id_b").as("match_id"),
        j4.as("jaccard"))
      .orderBy(col("new_id"), col("match_id"))
  }

  private val q63Sql =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      |  FROM documents WHERE doc_id < 400
      |), sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 11), j ->
      |    list_min(list_transform(s, t ->
      |      ('0x' || substr(md5(j || ':' || t), 1, 15))::BIGINT))) AS sg
      |  FROM sh
      |), bands AS (
      |  SELECT doc_id, b, md5(array_to_string(sg[b*4+1:b*4+4], ',')) AS bh
      |  FROM sig, range(0, 3) r(b)
      |), cand AS (
      |  SELECT DISTINCT n.doc_id AS new_id, x.doc_id AS match_id
      |  FROM bands n JOIN bands x ON n.b = x.b AND n.bh = x.bh
      |  WHERE n.doc_id >= 300 AND x.doc_id < 300
      |)
      |SELECT c.new_id, c.match_id,
      |  FLOOR(len(list_intersect(sa.s, sb.s))::DOUBLE
      |    / len(list_distinct(list_concat(sa.s, sb.s))) * 10000 + 0.5) / 10000.0 AS jaccard
      |FROM cand c
      |JOIN sh sa ON sa.doc_id = c.new_id
      |JOIN sh sb ON sb.doc_id = c.match_id
      |WHERE FLOOR(len(list_intersect(sa.s, sb.s))::DOUBLE
      |    / len(list_distinct(list_concat(sa.s, sb.s))) * 10000 + 0.5) / 10000.0 >= 0.6
      |ORDER BY new_id, match_id""".stripMargin

  /** Deterministic train/val/test split: bucket = h60(doc_id) mod 100,
    * <80 train / <90 val / else test. A pure per-row projection — no
    * shuffle, no state, stable under re-runs and across engines, which is
    * exactly why hash-mod beats `rand()` for dataset splits at any scale.
    */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val bucket = TextHash.h60(col("doc_id").cast("string")) % 100
    Tables.documents(s, dir)
      .select(col("doc_id"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("val"))
          .otherwise(lit("test")))
      .orderBy(col("doc_id"))
  }

  private val q64Sql =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
      |  FROM documents
      |)
      |ORDER BY doc_id""".stripMargin

  /** Text normalization (cleaning pass): lowercase, strip non-alphanumerics,
    * collapse runs of spaces, trim. Output carries md5 of the normalized
    * text so the oracle checks the WHOLE cleaned string, not a prefix.
    * Per-row expressions only — fully codegen'd, embarrassingly parallel.
    */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_raw"),
        length(norm).as("n_norm"),
        md5(norm).as("norm_hash"))
      .orderBy(col("doc_id"))
  }

  private val q65Sql =
    """SELECT doc_id, CAST(length(text) AS INT) AS n_raw,
      |  CAST(length(norm) AS INT) AS n_norm, md5(norm) AS norm_hash
      |FROM (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |      ' +', ' ', 'g')) AS norm
      |  FROM documents
      |)
      |ORDER BY doc_id""".stripMargin

  /** Repetition quality signals (C4/Gopher-family): duplicate-word ratio
    * and top-word frequency ratio per document. Two hash aggregations with
    * map-side partials; ROUND is the floor(x*1e4+0.5) form because ratios
    * with power-of-two denominators (e.g. 3/32 = 0.09375) sit exactly on
    * the .5 boundary where Spark (HALF_UP) and DuckDB (half-even) disagree.
    */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    def r4(c: org.apache.spark.sql.Column) = Parity.r4(c)
    val wc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    wc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_freq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        r4(lit(1) - col("n_distinct") / col("n_tokens")).as("dup_ratio"),
        col("top_freq"),
        r4(col("top_freq") / col("n_tokens")).as("top_ratio"))
      .orderBy(col("doc_id"))
  }

  private val q66Sql =
    """WITH c AS (
      |  SELECT doc_id, word, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY 1, 2
      |), s AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_freq
      |  FROM c GROUP BY 1
      |)
      |SELECT doc_id, n_tokens, n_distinct,
      |  FLOOR((1 - n_distinct / n_tokens) * 10000 + 0.5) / 10000.0 AS dup_ratio,
      |  top_freq,
      |  FLOOR(top_freq / n_tokens * 10000 + 0.5) / 10000.0 AS top_ratio
      |FROM s
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: flag corpus documents sharing any 5-word
    * shingle with a held-out benchmark set (here doc_id < 10 stands in for
    * the eval set). The benchmark side is tiny by construction → broadcast
    * semi-structure: explode grams on both sides, equi-join on the gram,
    * count per document. At 100 TB the corpus side streams; only the
    * benchmark grams are materialized.
    */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // tokens materialized as an attribute BELOW the shingle transform —
    // inlining them re-splits the text once per shingle (no CSE into
    // lambdas; 2.3x at sf0.1)
    def grams(d: DataFrame) = d
      .select(col("doc_id"), TextHash.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextHash.wordShinglesOf(col("toks"), 5)).as("gram"))
    val bench = grams(docs.filter(col("doc_id") < 10))
      .select(col("gram")).distinct()
    grams(docs.filter(col("doc_id") >= 10))
      .join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** q119 — q67's decontamination through the broadcast-bloom scale path
    * ([[graft.operators.BloomDecontaminate]]): same split as q67 (docs
    * < 10 are the benchmark), but the probe is Spark's own bloom sketch —
    * not reproducible in DuckDB, so rows-only by design; q67 is the
    * oracle-checked exact twin and BloomDecontaminateSpec pins the
    * no-false-negative / bounded-fp contract between the two forms.
    */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.BloomDecontaminate.contaminationFlags(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
      "doc_id", "text")
      .select(col("doc_id"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val q67Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(toks) - 4),
      |    i -> array_to_string(toks[i:i+4], ' ')))) AS gram
      |  FROM t
      |), bench AS (
      |  SELECT DISTINCT gram FROM g WHERE doc_id < 10
      |)
      |SELECT c.doc_id, COUNT(*) AS n_shared
      |FROM g c JOIN bench b USING (gram)
      |WHERE c.doc_id >= 10
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** B41 follow-through — cluster representative selection: after duplicate
    * clusters form (SimHash pairs → connected components, the bounded q55
    * pipeline), keep ONE document per cluster — the longest text, doc_id as
    * tie-break. This is the "which copy do we train on" decision; the
    * argmax is a per-cluster window over cluster-partitioned data.
    */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 150)
    val sh = docs.select(col("doc_id"), SimHash.simhashOfText(col("text")).as("simhash"))
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("h_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("h_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .filter(SimHash.hamming(col("h_a"), col("h_b")) <= 2)
      .select("id_a", "id_b")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    DedupClusters.clusterAssignments(docs, "doc_id", pairs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc"),
        col("cluster_size"), col("n_chars").as("keep_n_chars"))
      .orderBy(col("cluster_id"))
  }

  private val q68Sql =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents WHERE doc_id < 150
      |), th AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
      |), bitsum AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
      |  FROM th, range(0, 32) r(b) GROUP BY 1, 2
      |), sh AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
      |  FROM bitsum GROUP BY 1
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
      |), comp AS (
      |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
      |), asg AS (
      |  SELECT d.doc_id,
      |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
      |    COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id)) AS cluster_size,
      |    d.n_chars
      |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
      |  WHERE d.doc_id < 150
      |)
      |SELECT cluster_id, keep_doc, cluster_size, keep_n_chars
      |FROM (
      |  SELECT cluster_id, doc_id AS keep_doc, cluster_size,
      |    n_chars AS keep_n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM asg
      |) t
      |WHERE rn = 1
      |ORDER BY cluster_id""".stripMargin

  /** Deterministic corpus shuffle into training shards: shard =
    * h60("shuf:"+id) mod 8, position = rank of the hash within the shard.
    * The per-shard window is the scale boundary — each shard sorts
    * independently (corpus/8 per task group), no global sort; adding shards
    * scales the sort out linearly.
    */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val h = TextHash.h60(concat(lit("shuf:"), col("doc_id").cast("string")))
    Tables.documents(s, dir)
      .select(col("doc_id"), (h % 8).cast("int").as("shard"), h.as("hkey"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  private val q69Sql =
    """SELECT doc_id, CAST(h % 8 AS INT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS pos
      |FROM (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents
      |)
      |ORDER BY shard, pos""".stripMargin

  /** Language-balanced sampling: a fixed quota (20) per language, chosen by
    * hash order — deterministic "random" sampling that cannot drift between
    * runs or engines. The window partitions by language, so per-partition
    * state is the quota count, not the corpus.
    *
    * Label source: the declared query reads the corpus's `lang` METADATA
    * column, but the operator is label-source-agnostic — a corpus without
    * trustworthy tags joins [[Langid]]'s q171 `(doc_id, lang_pred)` frame
    * instead (rename `lang_pred` → `lang`; the balancing logic is
    * unchanged). Same substitution applies to every lang-gated consumer
    * (q144-style mixing, q152 ppl buckets, q154 gates).
    */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val h = TextHash.h60(concat(lit("bal:"), col("doc_id").cast("string")))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), h.as("hkey"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("hkey"), col("doc_id"))))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  private val q70Sql =
    """SELECT lang, rk, doc_id
      |FROM (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rk
      |  FROM (
      |    SELECT lang, doc_id,
      |      ('0x' || substr(md5('bal:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |    FROM documents
      |  )
      |) t
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin

  /** Language-model quality score (CCNet family): train a char-bigram
    * model on the corpus itself (counts → probabilities), score each doc
    * by its mean log-probability. Documents whose character statistics
    * diverge from the corpus (mojibake, binary spill, wrong language)
    * score low. Two hash aggregations + one broadcast scalar; the model
    * join is a broadcast (distinct bigrams ≪ corpus). Cross-engine float
    * exactness: each ln(p) is snapped to a 1e-6 integer grid and summed
    * as BIGINT — identical in both engines — then the final division is
    * floor-rounded (negative scores: round() HALF_UP vs half-even
    * diverges, floor(x·1e4+0.5) does not).
    */
  /** Per-dataset-version exact char-bigram count store `(doc_id, bg, c)` —
    * the char-LM's sufficient statistic (integer counts, parquet
    * round-trips identically), shared by q73's LM scoring and the langid
    * family (q171/q172): featurize once, consume everywhere.
    */
  private[queries] def docBigrams(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Artifacts.onDisk("bigramlm", s, dir) { out =>
      // Round-14 (measured at the 1M-doc sf2 slice): the native
      // char_bigram_counts expression IS the per-doc histogram, so the
      // build needs no AGGREGATION shuffle — explode the map instead of
      // exploding raw bigrams into a 108M-group hash aggregate. 224.5 s →
      // 157.3 s at 1M docs with a bit-identical store checksum (the HOF
      // explode also ran interpreted — the known round-10 lesson). The
      // first exchange is the deliberate round-robin repartition of the
      // raw (doc_id, text) rows below — it fans the otherwise
      // shuffle-free pipeline out when the corpus is a single parquet
      // file (the q95 single-scan-partition lesson) and costs one pass
      // over the text bytes.
      //
      // Round-15 (the q73 warm-cost diagnosis, measured): that fan-out
      // count also became the store's FILE count — 32 files of ~23 KB at
      // sf0.1 — and every warm consumer paid ~0.35–0.5 s of per-file
      // open/footer overhead across its two store scans (q73 warm medians
      // doubled r13→r14 on bit-identical CONTENT; the layout A/B pinned
      // it: 32 files ≈ 1.0–1.2 s vs 4–5 files ≈ 0.6–0.7 s, sorting
      // variants strictly worse). The second, AQE-SIZED exchange below
      // fixes the file count without giving up the compute fan-out:
      // repartition by column (no explicit N) lets AQE pick the partition
      // count from the actual shuffle bytes — measured: 4 files at sf0.1
      // (the fastest consumer layout in the A/B), the same 32 at the
      // 1M-doc slice where ~6 MB-compressed files are already right
      // (AQE's parallelismFirst floor). Build-cost trade, measured both
      // scales: +0.2 s warm at sf0.1 (0.5 → 0.7 s), +1.6 s warm at 1M
      // docs (3.5 → 5.1 s) — paid once per dataset version, repaid by the
      // first one or two warm consumer reads.
      val counts = org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.expr.CharBigramCountsF(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("text"))))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(counts).as(Seq("bg", "c")))
        .select(col("doc_id"), col("bg"), col("c").cast("long").as("c"))
        .repartition(col("doc_id"))
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private def q73(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // The (doc_id, bg) store collapses the bigram stream before anything
    // shuffles (round 14: the store build itself now rides the native
    // char_bigram_counts map — see docBigrams; the sf0.1-era measurement
    // that the map expression "loses to codegen'd hash aggregation" held
    // only while the consumer re-aggregated — as the per-doc STORE source
    // it wins 1.43x at 1M docs with a bit-identical result, because the
    // histogram needs no shuffle at all). The total needs no
    // bigram pass at all — a doc of length L contributes exactly
    // max(L-1, 0) bigrams. docBg feeds the model aggregate (a BROADCAST
    // side) and the main join (a shuffle consumer). Round-9 honesty pass:
    // the final plan shows NO ReusedExchange node, yet a same-shell A/B
    // measured checkpointed == unchecked (2.9 vs 2.9-3.1 s warm at sf0.1)
    // — unlike q74, where the identical shape really did run its corpus
    // aggregate twice (0.73 -> 0.34 s when checkpointed). The checkpoint
    // stays because it makes single execution PROVABLE rather than
    // dependent on whichever runtime stage-reuse behavior applies, at
    // zero measured cost.
    // Round-10: docBg is the trained char-bigram LM's sufficient statistic
    // (exact integer counts — parquet round-trips it identically), built
    // once per dataset version as a on-disk artifact instead of an eager
    // per-invocation checkpoint: the CCNet shape trains the LM once and
    // scores many batches, and bench sweeps 2+ skip the 9M-row explode.
    val docBg = Curation.docBigrams(s, dir)
    val model = docBg.groupBy(col("bg")).agg(sum(col("c")).as("mc"))
    val total = docs.agg(
      sum(greatest(length(col("text")) - 1, lit(0))).as("n_total"))
    val term = floor(
      log(col("mc").cast("double") / col("n_total")) * 1e6 + 0.5).cast("long")
    val raw = sum(col("c") * col("term")).cast("double") / 1e6 / sum(col("c"))
    docBg.join(broadcast(model), "bg").crossJoin(broadcast(total))
      .withColumn("term", term)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        Parity.r4(raw).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  private val q73Sql =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, length(text) - 1), i -> substr(text, i, 2))) AS bg
      |  FROM documents
      |), model AS (
      |  SELECT bg, COUNT(*) AS mc FROM bg GROUP BY 1
      |), tot AS (
      |  SELECT SUM(GREATEST(length(text) - 1, 0)) AS n_total FROM documents
      |), docbg AS (
      |  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  FLOOR(CAST(SUM(c * CAST(FLOOR(ln(mc / n_total) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1000000.0 / SUM(c) * 10000 + 0.5) / 10000.0 AS lm_score
      |FROM docbg JOIN model USING (bg), tot
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Pretraining mix weights per source: token share of each source and
    * the up/down-sampling weight that would flatten the mix to uniform
    * (weight = target_share / actual_share, the standard dataset-mixture
    * computation). One aggregation + a broadcast scalar; shares and
    * weights floor-rounded (power-of-two token counts sit on the rounding
    * boundary).
    */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) = Parity.r6(c)
    val perSource = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      // checkpoint: the 20-row per-source frame feeds both the broadcast
      // totals aggregate and the main select through DIFFERENT exchange
      // types, which never reuse — without materialization the corpus
      // tokenize+aggregate runs twice (measured 0.73 -> 0.34 s warm at
      // sf0.1; the q129 finding, applied to its older siblings)
      .localCheckpoint(true)
    val totals = perSource.agg(
      sum(col("tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("tokens"),
        r6(col("tokens") / col("corpus_tokens")).as("share"),
        r6((col("corpus_tokens") / col("n_sources")) / col("tokens")).as("uniform_weight"))
      .orderBy(col("source"))
  }

  private val q74Sql =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
      |    COUNT(*) AS n_sources
      |  FROM per
      |)
      |SELECT source, n_docs, tokens,
      |  FLOOR(tokens / corpus_tokens * 1000000 + 0.5) / 1000000.0 AS share,
      |  FLOOR((corpus_tokens / n_sources) / tokens * 1000000 + 0.5) / 1000000.0 AS uniform_weight
      |FROM per, tot
      |ORDER BY source""".stripMargin

  /** The END STATE of the dedup pipeline in one call: for EVERY document,
    * its cluster, the cluster size, and the keep/drop decision (longest
    * text per cluster wins, doc_id tie-break) — near-dup pairs → connected
    * components → representative selection → decision table. q55 exposes
    * the clusters and q68 the survivors; this is the full per-document
    * verdict a curation run materializes before writing the kept corpus
    * (`kept = 0` rows ARE the dedup report).
    */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 150)
    val sh = docs.select(col("doc_id"), SimHash.simhashOfText(col("text")).as("simhash"))
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("h_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("h_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .filter(SimHash.hamming(col("h_a"), col("h_b")) <= 2)
      .select("id_a", "id_b")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    DedupClusters.clusterAssignments(docs, "doc_id", pairs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        when(col("rn") === 1, lit(1)).otherwise(lit(0)).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val q85Sql =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents WHERE doc_id < 150
      |), th AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
      |), bitsum AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS sgn
      |  FROM th, range(0, 32) r(b) GROUP BY 1, 2
      |), sh AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
      |  FROM bitsum GROUP BY 1
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
      |), comp AS (
      |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
      |), assigned AS (
      |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
      |    d.n_chars
      |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
      |  WHERE d.doc_id < 150
      |)
      |SELECT doc_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |  CASE WHEN row_number() OVER (PARTITION BY cluster_id
      |    ORDER BY n_chars DESC, doc_id) = 1 THEN 1 ELSE 0 END AS kept
      |FROM assigned
      |ORDER BY doc_id""".stripMargin

  /** Weighted source resampling — APPLYING q74's uniform-mix weights: each
    * document keeps with probability min(1, uniform_weight) of its source,
    * decided by the same deterministic md5-derived hash family as the q64
    * split (no rand(), so the sampled corpus is reproducible across runs
    * and engines — the property that makes a 100 TB resample auditable).
    * Overrepresented sources downsample toward the uniform token budget;
    * underrepresented ones keep everything (upsampling is an epoch-repeat
    * concern, not a filter). Output: per-source kept counts/tokens.
    */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val per = docs.groupBy("source").agg(sum(col("n_tokens")).as("tokens"))
      .localCheckpoint(true) // same different-exchange-types trap as q74
    val tot = per.agg(sum(col("tokens")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    val w = per.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0), (col("corpus_tokens").cast("double") /
          col("n_sources")) / col("tokens")).as("keep_frac"))
    val hash = pmod(TextHash.h60(
      concat(col("doc_id").cast("string"), lit(":"), col("source"))),
      lit(1000000L))
    docs.join(broadcast(w), "source")
      .filter(hash < floor(col("keep_frac") * 1000000))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
      .orderBy("source")
  }

  private val q84Sql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), per AS (
      |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens
      |  FROM d GROUP BY source
      |), tot AS (
      |  SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
      |    COUNT(*) AS n_sources
      |  FROM per
      |), w AS (
      |  SELECT source,
      |    LEAST(1.0, (CAST(corpus_tokens AS DOUBLE) / n_sources) / tokens)
      |      AS keep_frac
      |  FROM per, tot
      |)
      |SELECT d.source, COUNT(*) AS n_kept,
      |  CAST(SUM(d.n_tokens) AS BIGINT) AS kept_tokens
      |FROM d JOIN w USING (source)
      |WHERE ('0x' || substr(md5(d.doc_id || ':' || d.source), 1, 15))::BIGINT
      |    % 1000000 < FLOOR(keep_frac * 1000000)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The key→partition mapping shared by [[writeBucketed]] and
    * [[upsertByKey]]: both sides MUST derive buckets identically or an
    * upsert would rewrite the wrong partitions.
    */
  def bucketOf(key: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(key), lit(numBuckets.toLong)).cast("int")

  /** The duplicate-key guard shared by [[upsertByKey]] and any bootstrap
    * that seeds a keyed living table (e.g. the ingest pipeline's
    * first-batch [[writeBucketed]]): a batch with two rows per key would
    * either merge nondeterministically (upsert) or silently violate the
    * one-row-per-key contract every later upsert assumes (bootstrap) —
    * both paths must fail the SAME typed way (round-16 ADVICE). Cost: one
    * limit(1) aggregate over the BATCH.
    */
  def requireUniqueKeys(df: DataFrame, keyCol: String): Unit = {
    val dupKeys = df.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"upsert batch has duplicate '$keyCol' values — dedupe first (merge order would be nondeterministic)")
  }

  /** Lay a table out hash-partitioned by key bucket — the layout
    * [[upsertByKey]] requires. `numBuckets` sizes the unit of rewrite: at
    * 100 TB pick it so one bucket (table_size / numBuckets) is a
    * comfortable job, e.g. 10k buckets × 10 GB.
    */
  def writeBucketed(
      df: DataFrame, path: String, keyCol: String, numBuckets: Int): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    df.withColumn("__bucket", bucketOf(col(keyCol), numBuckets))
      .write.partitionBy("__bucket").mode("overwrite").parquet(path)
  }

  /** Incremental UPSERT (merge) into a [[writeBucketed]] table — the
    * standing mutation of a living corpus (re-crawled documents, fixed
    * labels, new arrivals) done Spark-first without a table format:
    *
    *   1. the update batch's buckets are computed driver-side (bounded by
    *      numBuckets, one distinct over the BATCH);
    *   2. only those partitions are read back — partition pruning, so the
    *      read scales with the batch's spread, not the table;
    *   3. existing rows whose key is in the batch drop out via a left-anti
    *      join (the update batch broadcasts when small), the batch unions
    *      in;
    *   4. the merged rows are localCheckpointed (severing the plan's file
    *      dependency on the path being overwritten — Spark refuses a scan
    *      and overwrite of the same files in one plan), then written with
    *      DYNAMIC partition overwrite so untouched buckets' files are not
    *      rewritten — or even opened.
    *
    * Cost at 100 TB: proportional to (buckets touched × bucket size) +
    * batch, never the table. `updates` must hold at most one row per key
    * (checked — "last writer wins" between duplicate update rows would be
    * nondeterministic under shuffle).
    *
    * Isolation caveat, stated honestly: this is SINGLE-WRITER and readers
    * scanning mid-upsert can observe some buckets new and some old (plain
    * parquet has no snapshot isolation — that is what table formats add on
    * top of exactly this rewrite pattern). Serialize upserts per table;
    * the streaming form (foreachBatch, CurationSpec) does so naturally.
    */
  def upsertByKey(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, numBuckets: Int): Unit = {
    import spark.implicits._
    require(numBuckets > 0, "numBuckets must be positive")
    requireUniqueKeys(updates, keyCol)
    val upd = updates.withColumn("__bucket", bucketOf(col(keyCol), numBuckets))
    val affected = upd.select("__bucket").distinct().as[Int].collect().toSeq
    val existing = spark.read.parquet(path)
      .filter(col("__bucket").isin(affected: _*))
    val merged = existing
      .join(upd.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(upd)
      .localCheckpoint(true)
    merged.write.partitionBy("__bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)
  }

  /** Per-(source, lang) corpus statistics — doc counts, char volume, and
    * the q94-style XOR content checksum — chosen to be MERGEABLE: sums,
    * counts, and XORs combine associatively, which is what makes
    * [[mergeDocStats]]' incremental maintenance exact.
    */
  def docStats(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"), col("n_chars"),
        TextHash.h60(concat_ws("|",
          col("doc_id"), col("lang"), col("n_chars"), col("text"))).as("h"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(h)").as("checksum"))

  /** Incrementally maintained statistics table — materialized-view
    * maintenance for the always-on corpus dashboard ("how many docs per
    * source/lang, how big, what's the content fingerprint"). Each arriving
    * batch costs one scan of the BATCH plus a |groups|-sized merge — the
    * corpus is never rescanned. Because every column of [[docStats]] is
    * mergeable, the maintained table equals a from-scratch recompute after
    * ANY sequence of batches (spec-proven), and the checksum column makes
    * the stats table double as a replica-verification manifest.
    *
    * The single-file write is deliberate: the frame is bounded by
    * |sources| × |langs| (group cardinality, not corpus size), and a stats
    * table wants to be one cheap read. Single-writer, like the other
    * living-table mutations.
    */
  def mergeDocStats(
      spark: SparkSession, statsPath: String, batch: DataFrame): Unit = {
    val b = docStats(batch)
    val p = new org.apache.hadoop.fs.Path(statsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(p)) b
      else spark.read.parquet(statsPath).unionByName(b)
        .groupBy(col("source"), col("lang"))
        .agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("sum_chars"),
          expr("bit_xor(checksum)").as("checksum"))
    merged.localCheckpoint(true)
      .coalesce(1).write.mode("overwrite").parquet(statsPath)
  }

  /** Compact a [[writeBucketed]] table's fragmented buckets. Every
    * [[upsertByKey]] leaves a fresh set of files in each
    * touched bucket; after thousands of batches a hot bucket is thousands
    * of small files and open/footer overhead dominates its scans. This
    * reads ONLY buckets whose data-file count exceeds `maxFilesPerBucket`
    * (a driver-side directory listing, no data read), rewrites each as a
    * single file, and leaves every other bucket untouched — content is
    * unchanged, so readers are unaffected apart from the same
    * single-writer caveat as upsert. Returns the compacted bucket
    * ids (empty = nothing exceeded the threshold, nothing was written).
    *
    * The repartition hashes on `__bucket` into one partition per oversized
    * bucket, so each bucket's rows land whole in one task and the dynamic
    * overwrite emits exactly one file per bucket (a hash collision between
    * two bucket values just co-locates them in a task — partitionBy still
    * splits the output by value).
    */
  def compactBuckets(
      spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 8): Seq[Int] = {
    require(maxFilesPerBucket > 0, "maxFilesPerBucket must be positive")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oversized = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("__bucket="))
      .filter { d =>
        fs.listStatus(d.getPath).count { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith(".") && !n.startsWith("_")
        } > maxFilesPerBucket
      }
      .map(_.getPath.getName.stripPrefix("__bucket=").toInt)
    if (oversized.isEmpty) return Seq.empty
    val rows = spark.read.parquet(path)
      .filter(col("__bucket").isin(oversized: _*))
      .localCheckpoint(true)
    rows.repartition(oversized.size, col("__bucket"))
      .write.partitionBy("__bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)
    oversized.sorted
  }

  /** B40 completion — JSONL (newline-delimited JSON) round trip: the
    * interchange format of LLM corpus pipelines (public text datasets ship
    * as .jsonl shards). Write the documents table as JSONL shards, read it
    * back with an EXPLICIT schema — at 100 TB schema inference would scan
    * the corpus a second time before the first real query — and return the
    * rows. The oracle is the identity query on the parquet table, so the
    * hash match proves the round trip is lossless through JSON string
    * escaping (quotes, newlines, unicode in `text`).
    */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val path = graft.Artifacts.scratch("jsonl", dir)
    docs.write.mode("overwrite").json(path)
    s.read.schema(docs.schema).json(path)
      .orderBy(col("doc_id"))
  }

  private val q91Sql =
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"

  /** B40 — ORC round trip, q91's sibling for Spark's second native columnar
    * format (corpora arrive in whatever format the upstream wrote; an
    * engine claiming source coverage must prove losslessness, not assume
    * it). ORC is self-describing, so the read needs no explicit schema —
    * the footer, not the data, carries it. DuckDB cannot read ORC, so as
    * with q91 the oracle is the identity query on the parquet table: the
    * hash match proves the documents table — unicode text included —
    * survives the format byte-for-byte.
    */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val path = graft.Artifacts.scratch("orc", dir)
    docs.write.mode("overwrite").orc(path)
    s.read.orc(path).orderBy(col("doc_id"))
  }

  private val q92Sql = q91Sql

  /** Outlier clipping (winsorization) of document lengths per language —
    * the curation step that keeps a handful of pathological documents from
    * dominating length statistics and packing decisions. Bounds are the
    * rank-based 5th/95th percentiles computed with INTEGER arithmetic
    * (`(5n+99) div 100`, `95n div 100` on row_number ranks): interpolated
    * percentiles put a float boundary next to integer data, where a
    * last-ulp engine difference in the boundary flips the clipped-count —
    * rank thresholds cannot drift. avg of the clipped (all-long) values is
    * an exact integer sum in both engines, so even the double division is
    * order-insensitive.
    *
    * Scale form (round 9): the bounds come from the per-(lang, n_chars)
    * DISTRIBUTION, not a per-document ranking window — the value at rank
    * r under (n_chars, doc_id) order is the smallest length whose
    * cumulative count reaches r (the doc_id tie-break never changes which
    * LENGTH sits at a rank), so a counting-sort over the value domain is
    * rank-exact. Window state is one row per distinct length per lang
    * (value-domain bounded), where the round-8 form sorted every document
    * of a language in one task — the degenerate low-cardinality-window
    * shape the budget-fill A/B measured at 4.2x. The oracle keeps the
    * definitional ROW_NUMBER form, so the hash check also proves the
    * distribution rewrite IS the rank semantics.
    */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dist = docs.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val bounds = cum
      .groupBy(col("lang"))
      .agg(
        min(when(col("cum") >= greatest(lit(1L), expr("(5*n + 99) DIV 100")),
          col("n_chars"))).as("lo"),
        min(when(col("cum") >= greatest(lit(1L), expr("(95*n) DIV 100")),
          col("n_chars"))).as("hi"))
    docs.join(broadcast(bounds), "lang")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") < col("lo") || col("n_chars") > col("hi"), 1L)
          .otherwise(0L)).as("n_clipped"),
        round(avg(greatest(col("lo"), least(col("hi"), col("n_chars")))), 4)
          .as("avg_clipped"))
      .orderBy(col("lang"))
  }

  private val q93Sql =
    """WITH ranked AS (
      |  SELECT lang, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |bounds AS (
      |  SELECT lang,
      |    MIN(CASE WHEN rn = GREATEST(1, (5*n + 99) // 100) THEN n_chars END) AS lo,
      |    MIN(CASE WHEN rn = GREATEST(1, (95*n) // 100) THEN n_chars END) AS hi
      |  FROM ranked GROUP BY lang)
      |SELECT d.lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.n_chars < b.lo OR d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |  ROUND(AVG(GREATEST(b.lo, LEAST(b.hi, d.n_chars))), 4) AS avg_clipped
      |FROM documents d JOIN bounds b USING (lang)
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  /** Content checksum per source — the integrity fingerprint a 100 TB
    * pipeline runs after every copy, migration, or engine swap ("does the
    * replica hold exactly the rows the primary does?"). Per-row h60 over
    * the concatenated fields, XOR-aggregated per group: XOR is
    * commutative, associative, and self-inverse, so the aggregate is
    * order- and partition-insensitive (no float-summation caveat),
    * mergeable map-side, and detects any single-row difference. Verifying
    * a replica costs one scan plus a |sources|-row exchange; comparing two
    * tables costs comparing two tiny results.
    */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val content = concat_ws("|",
      col("doc_id"), col("lang"), col("n_chars"), col("text"))
    Tables.documents(s, dir)
      .select(col("source"), TextHash.h60(content).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("checksum"))
      .orderBy(col("source"))
  }

  private val q94Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  bit_xor(('0x' || substr(md5(concat_ws('|', doc_id, lang, n_chars, text)), 1, 15))::BIGINT) AS checksum
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** B38 — the COMPOSED ingest fold, ORACLE-CHECKED (q177, round 17;
    * VERDICT r16 task 5): the streaming ingest was the one major family
    * whose fold semantics had no DuckDB-checked declared query — it was
    * spec-pinned (stream == hand-driven fold) and 1M-rehearsed, but the
    * driver's hard signal never covered it. This declares a bounded
    * TWO-BATCH fold over the SAME pure verdict core the stream runs
    * ([[graft.streaming.IngestPipeline.classifyBatch]] — not a parallel
    * re-implementation): batch 1 (doc_id < 300) folds with no index
    * (intra-batch verified keep-first dedup, then the quality gate);
    * batch 2 (300–399) dedups against the band index batch 1's appended
    * docs built, then intra-batch, then the gate. Output: one verdict row
    * per document, verdict ∈ dup_index | dup_batch | gated | appended —
    * the per-doc form of the accounting identity the rehearsals check in
    * aggregate.
    *
    * Oracle parity: the q63 md5 band-hash CTEs (signature → bands →
    * collision join), exact set-Jaccard at the r4 grid (threshold 0.6,
    * the q63/q66 convention), and a LENGTH-RULE gate — weight 1.0 on the
    * x_len feature slot only, so p = r4(sigmoid(r4(ln(n_chars/300)))) and
    * the gate binds at n_chars ≥ 300 (the IngestPipelineSpec trick; the
    * full-featured gate's oracle is q120/q137's job — q177's new content
    * is the fold COMPOSITION). The production fold differs only in hash
    * family (xxhash64), threshold, and the bucketed-store pruned read —
    * shapes q63/q85 and the store spec cover.
    */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val b1 = docs.filter(col("doc_id") < 300)
    val b2 = docs.filter(col("doc_id") >= 300)
    val lsh = MinHashLSH(numHashes = 12, numBands = 3, shingleSize = 1,
      oracleParityHash = true)
    val w = Array.tabulate(QualityClassifier.Dims)(i => if (i == 16) 1.0 else 0.0)
    // v1 feeds FOUR readers (kept1 twice inside classifyBatch(b2) — the
    // index build and the corpus-text fetch — plus the final union), and
    // kept1 three; materializing both once turns ~5 re-runs of the whole
    // batch-1 dedup DAG into two tiny cached reads (round-17 measurement:
    // 4.6 s → the checkpointed form in OPTIMIZATION_r17.md)
    val v1 = graft.streaming.IngestPipeline.classifyBatch(
      b1, None,
      ids => ids.limit(0).select(col("id").as("doc_id"), lit("").as("text")),
      lsh, 0.6, w, 0.5, parityRound = true)
      .localCheckpoint(true)
    val kept1 = b1.join(
      broadcast(v1.filter(col("verdict") === "appended").select("doc_id")),
      "doc_id")
      .localCheckpoint(true)
    val v2 = graft.streaming.IngestPipeline.classifyBatch(
      b2, Some(_ => lsh.bandIndex(kept1, "doc_id", "text")),
      ids => kept1.select(col("doc_id"), col("text"))
        .join(broadcast(ids.select(col("id").as("doc_id"))), "doc_id"),
      lsh, 0.6, w, 0.5, parityRound = true)
    v1.select(lit(1).as("batch"), col("doc_id"), col("verdict"))
      .unionByName(
        v2.select(lit(2).as("batch"), col("doc_id"), col("verdict")))
      .orderBy(col("doc_id"))
  }

  private val q177Sql =
    """WITH d AS (
      |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 400
      |), sh AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM d
      |), sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 11), j ->
      |    list_min(list_transform(s, t ->
      |      ('0x' || substr(md5(j || ':' || t), 1, 15))::BIGINT))) AS sg
      |  FROM sh
      |), bands AS (
      |  SELECT doc_id, b, md5(array_to_string(sg[b*4+1:b*4+4], ',')) AS bh
      |  FROM sig, range(0, 3) r(b)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
      |  FROM bands a JOIN bands x ON a.b = x.b AND a.bh = x.bh
      |    AND a.doc_id < x.doc_id
      |), ver AS (
      |  SELECT id_a, id_b FROM cand
      |  JOIN sh sa ON sa.doc_id = id_a
      |  JOIN sh sb ON sb.doc_id = id_b
      |  WHERE FLOOR(len(list_intersect(sa.s, sb.s))::DOUBLE
      |      / len(list_distinct(list_concat(sa.s, sb.s))) * 10000 + 0.5)
      |      / 10000.0 >= 0.6
      |), keep AS (
      |  SELECT doc_id FROM d
      |  WHERE FLOOR(1.0 / (1.0 + exp(-(FLOOR(ln(GREATEST(n_chars, 1) / 300.0)
      |      * 10000 + 0.5) / 10000.0))) * 10000 + 0.5) / 10000.0 >= 0.5
      |), dupb1 AS (
      |  SELECT DISTINCT id_b AS doc_id FROM ver WHERE id_a < 300 AND id_b < 300
      |), v1 AS (
      |  SELECT 1 AS batch, doc_id,
      |    CASE WHEN doc_id IN (SELECT doc_id FROM dupb1) THEN 'dup_batch'
      |         WHEN doc_id IN (SELECT doc_id FROM keep) THEN 'appended'
      |         ELSE 'gated' END AS verdict
      |  FROM d WHERE doc_id < 300
      |), kept1 AS (
      |  SELECT doc_id FROM v1 WHERE verdict = 'appended'
      |), dupi2 AS (
      |  SELECT DISTINCT v.id_b AS doc_id FROM ver v
      |  JOIN kept1 k ON k.doc_id = v.id_a
      |  WHERE v.id_b >= 300
      |), after2 AS (
      |  SELECT doc_id FROM d WHERE doc_id >= 300
      |    AND doc_id NOT IN (SELECT doc_id FROM dupi2)
      |), dupb2 AS (
      |  SELECT DISTINCT v.id_b AS doc_id FROM ver v
      |  JOIN after2 fa ON fa.doc_id = v.id_a
      |  JOIN after2 fb ON fb.doc_id = v.id_b
      |), v2 AS (
      |  SELECT 2 AS batch, doc_id,
      |    CASE WHEN doc_id IN (SELECT doc_id FROM dupi2) THEN 'dup_index'
      |         WHEN doc_id IN (SELECT doc_id FROM dupb2) THEN 'dup_batch'
      |         WHEN doc_id IN (SELECT doc_id FROM keep) THEN 'appended'
      |         ELSE 'gated' END AS verdict
      |  FROM d WHERE doc_id >= 300
      |)
      |SELECT batch, doc_id, verdict FROM v1
      |UNION ALL
      |SELECT batch, doc_id, verdict FROM v2
      |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q63_incremental_dedup", q63, Some(q63Sql)),
    QueryDef("q177_ingest_fold", q177, Some(q177Sql)),
    QueryDef("q64_hash_split", q64, Some(q64Sql)),
    QueryDef("q65_text_normalize", q65, Some(q65Sql)),
    QueryDef("q66_repetition", q66, Some(q66Sql)),
    QueryDef("q67_decontaminate", q67, Some(q67Sql)),
    QueryDef("q119_bloom_decontaminate", q119, None),
    QueryDef("q68_cluster_keep_best", q68, Some(q68Sql)),
    QueryDef("q69_corpus_shuffle", q69, Some(q69Sql)),
    QueryDef("q70_balanced_sample", q70, Some(q70Sql)),
    QueryDef("q73_lm_score", q73, Some(q73Sql)),
    QueryDef("q74_source_mix", q74, Some(q74Sql)),
    QueryDef("q84_weighted_resample", q84, Some(q84Sql)),
    QueryDef("q85_dedup_verdict", q85, Some(q85Sql)),
    QueryDef("q91_jsonl_roundtrip", q91, Some(q91Sql)),
    QueryDef("q92_orc_roundtrip", q92, Some(q92Sql)),
    QueryDef("q93_winsorize", q93, Some(q93Sql)),
    QueryDef("q94_source_checksum", q94, Some(q94Sql)))
}
