package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{NumericType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL table-valued surface for the operators a SQL-only user could not
  * otherwise reach — BM25 retrieval from a persisted index, the spatial
  * joins, and the exact set-similarity join:
  *
  * {{{
  * SELECT * FROM bm25_search('/idx/path', 'spark,join,stream', 20)
  * SELECT * FROM radius_join('points_v', 0.5)            -- or (, 'pid','x','y')
  * SELECT * FROM points_in_zones('pts_v', 'zones_v', 1.0) -- or (, 'x','y')
  * SELECT * FROM prefix_similarity_join('docs_v', 'doc_id', 'text', 0.7)
  * SELECT * FROM semdedup_pairs('emb_v', 'vec_id', 'embedding', 'cents_v', 0.4)
  * SELECT * FROM jl_project('emb_v', 'vec_id', 'embedding', 16)
  * SELECT * FROM sparse_cosine_join('docs_v', 'doc_id', 'text', 0.3, 0.25)
  * SELECT * FROM rrf_fuse('lex_v', 'sem_v', 'id', 'score', 20)
  * SELECT * FROM pagerank('edges_v', 'src', 'dst', 3, 0.85, true)
  * SELECT * FROM bpe_token_counts('docs_v', 'doc_id', 'text', 6)
  * SELECT * FROM unigram_token_counts('docs_v', 'doc_id', 'text', 64, 2)
  * SELECT * FROM quality_scores('docs_v', 'logistic', 3)
  * SELECT * FROM heavy_tokens('docs_v', 'text', 20, 256)
  * SELECT * FROM repetition_stats('docs_v', 'doc_id', 'text', 2)
  * SELECT * FROM dsir_weights('docs_v', 'doc_id', 'text', 'is_target', 16)
  * SELECT * FROM mmr_rerank('emb_v', 'vec_id', 'embedding', 0, 20, 5, 0.7)
  * SELECT * FROM chat_render('turns_v', 'user_id', 'ts_us', 'event_id', 'role', 'turn_text', 1800000000)
  * SELECT * FROM loss_mask_spans('turns_v', 'user_id', 'ts_us', 'event_id', 'role', 'turn_text', 1800000000)
  * }}}
  *
  * Each builder runs at analysis time: scalar arguments must be literals
  * (checked with the same positioned AnalysisExceptions the builtins
  * raise), table arguments resolve through the session catalog (temp
  * views included), and the returned plan IS the Scala operator's own
  * plan — the SQL form shares every guard, every plan shape, and every
  * spec with the DataFrame form rather than re-implementing it. Follows
  * [[AsOfSql]]'s registration path (GraftFunctions.register /
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  */
object SqlTableFunctions {
  import GraftErrors.{fail, wrongNumArgs}

  private def strArg(fn: String, args: Seq[Expression], i: Int,
      what: String): String =
    args(i) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => fail(s"$fn argument ${i + 1} ($what) must be a string " +
        s"literal, got ${other.sql}")
    }

  private def numArg(fn: String, args: Seq[Expression], i: Int,
      what: String): Double =
    args(i) match {
      case l @ Literal(v, _: NumericType) if v != null =>
        // covers INT/BIGINT/DOUBLE and SQL decimal literals (0.5 parses
        // as DecimalType) — Literal.eval is a plain driver-side value
        l.eval().toString.toDouble
      case other => fail(s"$fn argument ${i + 1} ($what) must be a numeric " +
        s"literal, got ${other.sql}")
    }

  private def intArg(fn: String, args: Seq[Expression], i: Int,
      what: String): Int = {
    val d = numArg(fn, args, i, what)
    if (d != math.rint(d) || d < Int.MinValue || d > Int.MaxValue)
      fail(s"$fn argument ${i + 1} ($what) must be an integer, got $d")
    d.toInt
  }

  private def table(fn: String, name: String) =
    SparkSession.active.table(name)

  /** bm25_search(index_path, 'term1,term2,...', k) */
  def bm25Builder(args: Seq[Expression]): LogicalPlan = {
    val fn = "bm25_search"
    if (args.length != 3) wrongNumArgs(fn, "3", args.length)
    val path = strArg(fn, args, 0, "index path")
    val terms = strArg(fn, args, 1, "query terms")
      .split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty)
    if (terms.isEmpty) fail(s"$fn argument 2 (query terms) names no terms")
    val k = intArg(fn, args, 2, "k")
    if (k <= 0) fail(s"$fn argument 3 (k) must be positive, got $k")
    graft.operators.TextIndex.bm25TopK(SparkSession.active, path, terms, k)
      .queryExecution.logical
  }

  /** radius_join(points_table, radius [, id_col, x_col, y_col]) */
  def radiusJoinBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "radius_join"
    if (args.length != 2 && args.length != 5)
      wrongNumArgs(fn, "2 or 5", args.length)
    val pts = table(fn, strArg(fn, args, 0, "points table"))
    val radius = numArg(fn, args, 1, "radius")
    if (radius <= 0) fail(s"$fn argument 2 (radius) must be positive, got $radius")
    val (idc, xc, yc) =
      if (args.length == 5)
        (strArg(fn, args, 2, "id column"), strArg(fn, args, 3, "x column"),
          strArg(fn, args, 4, "y column"))
      else ("pid", "x", "y")
    graft.operators.SpatialJoin.radiusJoin(pts, radius, idc, xc, yc)
      .queryExecution.logical
  }

  /** points_in_zones(points_table, zones_table, cell_size [, x_col, y_col]) */
  def pointsInZonesBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "points_in_zones"
    if (args.length != 3 && args.length != 5)
      wrongNumArgs(fn, "3 or 5", args.length)
    val pts = table(fn, strArg(fn, args, 0, "points table"))
    val zones = table(fn, strArg(fn, args, 1, "zones table"))
    val cellSize = numArg(fn, args, 2, "cell size")
    if (cellSize <= 0) fail(s"$fn argument 3 (cell size) must be positive, got $cellSize")
    val (xc, yc) =
      if (args.length == 5)
        (strArg(fn, args, 3, "x column"), strArg(fn, args, 4, "y column"))
      else ("x", "y")
    graft.operators.SpatialJoin.pointsInZones(pts, zones, cellSize, xc, yc)
      .queryExecution.logical
  }

  /** semdedup_pairs(members_table, id_col, vec_col, centroids_table, min_cos) —
    * `centroids_table` must expose (c_id, c_emb) and stay broadcast-small
    * (the operator's own MaxCentroids guard applies downstream).
    */
  def semDeDupPairsBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "semdedup_pairs"
    if (args.length != 5) wrongNumArgs(fn, "5", args.length)
    val members = table(fn, strArg(fn, args, 0, "members table"))
    val idCol = strArg(fn, args, 1, "id column")
    val vecCol = strArg(fn, args, 2, "vector column")
    val cents = table(fn, strArg(fn, args, 3, "centroids table"))
    val minCos = numArg(fn, args, 4, "min cosine")
    if (minCos < -1 || minCos > 1)
      fail(s"$fn argument 5 (min cosine) must be in [-1, 1], got $minCos")
    graft.operators.SemDeDup.pairs(members, idCol, vecCol, cents, minCos)
      .queryExecution.logical
  }

  /** jl_project(table, id_col, vec_col, m) — Johnson–Lindenstrauss
    * compression of `vec_col` to m dims (see
    * [[graft.operators.RandomProjection]]). The operator probes the
    * vector width with a one-row scan to build its literal matrix; the
    * SQL form defers that probe (with the rest of the work) behind a
    * [[DeferredResult]] leaf so EXPLAIN never scans.
    */
  def jlProjectBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "jl_project"
    if (args.length != 4) wrongNumArgs(fn, "4", args.length)
    val df = table(fn, strArg(fn, args, 0, "input table"))
    val idCol = strArg(fn, args, 1, "id column")
    val vecCol = strArg(fn, args, 2, "vector column")
    val m = intArg(fn, args, 3, "target dim")
    if (m <= 0) fail(s"$fn argument 4 (target dim) must be positive, got $m")
    if (!df.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the input table")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, df.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("proj",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))),
      df, Seq(idCol, vecCol, m),
      () => graft.operators.RandomProjection.project(df, idCol, vecCol, m))
  }

  /** sparse_cosine_join(docs_table, id_col, text_col [, min_cos, max_df_frac]) */
  def sparseCosineBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "sparse_cosine_join"
    if (args.length != 3 && args.length != 5)
      wrongNumArgs(fn, "3 or 5", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val idCol = strArg(fn, args, 1, "id column")
    val textCol = strArg(fn, args, 2, "text column")
    val (minCos, maxDfFrac) =
      if (args.length == 5)
        (numArg(fn, args, 3, "min cosine"), numArg(fn, args, 4, "max df fraction"))
      // 3-arg form inherits the operator's corpus-stat auto df cap (AutoDf =
      // NaN, which the range guard below ignores: NaN compares false) — the
      // uncapped self-join is explicit-only in SQL too
      else (0.0, graft.operators.SparseCosineJoin.AutoDf)
    // range guards live in the operator's own require()s and surface as
    // the analysis error below would — but raise them HERE so the SQL
    // user gets the positioned AnalysisException the builtins raise
    if (minCos < 0 || minCos > 1)
      fail(s"$fn argument 4 (min cosine) must be in [0, 1], got $minCos")
    if (maxDfFrac <= 0 || maxDfFrac > 1)
      fail(s"$fn argument 5 (max df fraction) must be in (0, 1], got $maxDfFrac")
    if (!docs.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the documents table")
    if (!docs.columns.contains(textCol))
      fail(s"$fn argument 3 (text column): no column '$textCol' in the documents table")
    // Deferred since r18: the operator materializes its weighted postings
    // once (localCheckpoint — four consumers), and under AQE even a lazy
    // checkpoint's toRdd executes the upstream stages, so an eagerly-built
    // plan would run jobs at ANALYSIS time (EXPLAIN must never execute —
    // the ExtensionsSpec contract). The leaf defers construction with the
    // rest of the work to action time, like jl_project's width probe.
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("id_b", docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("cos",
          org.apache.spark.sql.types.DoubleType))),
      docs, Seq(idCol, textCol, minCos, maxDfFrac),
      () => graft.operators.SparseCosineJoin
        .pairs(docs, idCol, textCol, minCos, maxDfFrac))
  }

  /** rrf_fuse(lex_table, sem_table, id_col, score_col, top_k [, per_list_k, rrf_k])
    * — two-list Reciprocal Rank Fusion ([[graft.operators.HybridSearch]]);
    * the DataFrame form accepts any number of lists, the SQL form covers
    * the canonical lexical+semantic pair.
    */
  def rrfFuseBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "rrf_fuse"
    if (args.length != 5 && args.length != 7)
      wrongNumArgs(fn, "5 or 7", args.length)
    val lex = table(fn, strArg(fn, args, 0, "lexical table"))
    val sem = table(fn, strArg(fn, args, 1, "semantic table"))
    val idCol = strArg(fn, args, 2, "id column")
    val scoreCol = strArg(fn, args, 3, "score column")
    val topK = intArg(fn, args, 4, "top k")
    val (perListK, rrfK) =
      if (args.length == 7)
        (intArg(fn, args, 5, "per-list k"), intArg(fn, args, 6, "rrf k"))
      else (50, 60)
    if (topK <= 0 || perListK <= 0 || rrfK <= 0)
      fail(s"$fn k arguments must be positive, got $topK/$perListK/$rrfK")
    graft.operators.HybridSearch.rrf(Seq(lex, sem), idCol, scoreCol,
      topK, perListK, rrfK).queryExecution.logical
  }

  /** pagerank(edges_table, src_col, dst_col, iters [, damping, undirected]) —
    * PageRank iterations run eagerly (localCheckpoint per round), so the
    * SQL form defers them behind a [[DeferredResult]] leaf: EXPLAIN shows
    * the node without executing an iteration; execution runs them once.
    */
  def pageRankBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "pagerank"
    if (args.length != 4 && args.length != 6)
      wrongNumArgs(fn, "4 or 6", args.length)
    val edges = table(fn, strArg(fn, args, 0, "edges table"))
    val srcCol = strArg(fn, args, 1, "src column")
    val dstCol = strArg(fn, args, 2, "dst column")
    val iters = intArg(fn, args, 3, "iterations")
    if (iters < 1 || iters > 100)
      fail(s"$fn argument 4 (iterations) must be in [1, 100], got $iters")
    val (damping, undirected) =
      if (args.length == 6) {
        val d = numArg(fn, args, 4, "damping")
        val u = args(5) match {
          case Literal(b: Boolean, _) => b
          case other => fail(s"$fn argument 6 (undirected) must be a " +
            s"boolean literal, got ${other.sql}")
        }
        (d, u)
      } else (0.85, false)
    if (damping <= 0 || damping >= 1)
      fail(s"$fn argument 5 (damping) must be in (0, 1), got $damping")
    // PageRank.run casts ids to string and emits (id, rank) — the contract
    // DeferredResultExec verifies at execution
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", StringType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.DoubleType))),
      edges, Seq(srcCol, dstCol, iters, damping, undirected),
      () => graft.operators.PageRank.run(
        edges, srcCol, dstCol, iters, damping, undirected))
  }

  /** bpe_token_counts(docs_table, id_col, text_col, n_merges) — trains a
    * BPE vocabulary on the table and returns per-row token counts under
    * it ([[graft.operators.Bpe]]). Training (n_merges bounded argmax
    * rounds) is deferred behind a [[DeferredResult]] leaf — EXPLAIN does
    * not train; n_merges stays capped for the SQL form.
    */
  def bpeTokenCountsBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "bpe_token_counts"
    if (args.length != 4) wrongNumArgs(fn, "4", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val idCol = strArg(fn, args, 1, "id column")
    val textCol = strArg(fn, args, 2, "text column")
    val nMerges = intArg(fn, args, 3, "merge count")
    if (nMerges < 1 || nMerges > 64)
      fail(s"$fn argument 4 (merge count) must be in [1, 64], got $nMerges")
    if (!docs.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the documents table")
    if (!docs.columns.contains(textCol))
      fail(s"$fn argument 3 (text column): no column '$textCol' in the documents table")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("n_pieces",
          org.apache.spark.sql.types.LongType))),
      docs, Seq(idCol, textCol, nMerges),
      () => {
        val (_, dict) = graft.operators.Bpe.train(
          graft.operators.Bpe.wordTypes(docs, textCol), nMerges)
        graft.operators.Bpe.encodeCounts(docs, dict, idCol, textCol)
      })
  }

  /** unigram_token_counts(docs_table, id_col, text_col, vocab_size
    * [, iters]) — trains a unigram-LM (SentencePiece-style) vocabulary
    * on the table with hard-EM and returns per-row piece counts under it
    * ([[graft.operators.UnigramLm]]) — the subtractive counterpart of
    * `bpe_token_counts`. Training (seed + EM rounds of type-table DP +
    * bounded collects) is deferred and memoized like the other iterative
    * TVFs.
    */
  def unigramTokenCountsBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "unigram_token_counts"
    if (args.length != 4 && args.length != 5)
      wrongNumArgs(fn, "4 or 5", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val idCol = strArg(fn, args, 1, "id column")
    val textCol = strArg(fn, args, 2, "text column")
    val vocab = intArg(fn, args, 3, "vocab size")
    val iters = if (args.length == 5) intArg(fn, args, 4, "iterations") else 2
    if (vocab < 2 || vocab > graft.operators.UnigramLm.MaxVocab)
      fail(s"$fn argument 4 (vocab size) must be in " +
        s"[2, ${graft.operators.UnigramLm.MaxVocab}], got $vocab")
    if (iters < 0 || iters > 16)
      fail(s"$fn argument 5 (iterations) must be in [0, 16], got $iters")
    if (!docs.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the documents table")
    if (!docs.columns.contains(textCol))
      fail(s"$fn argument 3 (text column): no column '$textCol' in the documents table")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("n_pieces",
          org.apache.spark.sql.types.LongType))),
      docs, Seq(idCol, textCol, vocab, iters),
      () => {
        val (_, lp) = graft.operators.UnigramLm.train(
          graft.operators.Bpe.wordTypes(docs, textCol),
          maxPieceLen = 4, vocabSize = vocab, iters = iters,
          maxWordLen = 16)
        graft.operators.UnigramLm.encodeCounts(docs, lp, idCol, textCol,
          maxPieceLen = 4, maxWordLen = 16)
      })
  }

  /** quality_scores(docs_table, model [, iters]) — trains the quality
    * classifier on the table's doc_id/text/n_chars/lang columns (the
    * cascade-label convention) and scores every row; model = 'centroid'
    * (closed-form, zero iterations — a pure plan, returned directly) or
    * 'logistic' (full-batch GD, iters ≤ 20 — training is deferred behind
    * a [[DeferredResult]] leaf so EXPLAIN never runs a gradient step).
    */
  def qualityScoresBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "quality_scores"
    if (args.length != 2 && args.length != 3)
      wrongNumArgs(fn, "2 or 3", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val model = strArg(fn, args, 1, "model")
    val qc = graft.operators.QualityClassifier
    if (!docs.columns.contains("doc_id"))
      fail(s"$fn argument 1 (documents table) must have a doc_id column")
    val idType = docs.schema("doc_id").dataType
    def field(n: String, t: org.apache.spark.sql.types.DataType) =
      org.apache.spark.sql.types.StructField(n, t)
    import org.apache.spark.sql.types.{BooleanType, DoubleType => DblT}
    model match {
      case "centroid" =>
        if (args.length == 3)
          fail(s"$fn: 'centroid' takes no iteration argument")
        qc.centroidScores(qc.features(docs), qc.cascadeLabels(docs))
          .queryExecution.logical
      case "logistic" =>
        val iters = if (args.length == 3) intArg(fn, args, 2, "iterations") else 3
        if (iters < 1 || iters > 20)
          fail(s"$fn argument 3 (iterations) must be in [1, 20], got $iters")
        DeferredResult.memoized(fn,
          org.apache.spark.sql.types.StructType(Seq(
            field("doc_id", idType), field("p", DblT),
            field("pred", BooleanType))),
          docs, Seq(model, iters),
          () => {
            val f = qc.features(docs).localCheckpoint(true)
            val w = qc.trainLogistic(f, qc.cascadeLabels(docs), iters = iters)
            qc.score(f, w)
          })
      case other =>
        fail(s"$fn argument 2 (model) must be 'centroid' or 'logistic', " +
          s"got '$other'")
    }
  }

  /** heavy_tokens(docs_table, text_col, k [, capacity]) — exact top-k
    * tokens via the bounded-state Misra–Gries two-pass
    * ([[graft.operators.HeavyHitters]]); the candidate sketch (a bounded
    * ≤ capacity collect) is deferred behind a [[DeferredResult]] leaf so
    * EXPLAIN never scans the corpus.
    */
  def heavyTokensBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "heavy_tokens"
    if (args.length != 3 && args.length != 4)
      wrongNumArgs(fn, "3 or 4", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val textCol = strArg(fn, args, 1, "text column")
    val k = intArg(fn, args, 2, "k")
    if (k < 1 || k > 100000) fail(s"$fn argument 3 (k) must be in [1, 100000], got $k")
    val capacity = if (args.length == 4) intArg(fn, args, 3, "capacity") else 4096
    if (capacity < k || capacity > 100000)
      fail(s"$fn argument 4 (capacity) must be in [k, 100000], got $capacity")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token", StringType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType))),
      docs, Seq(textCol, k, capacity),
      () => graft.operators.HeavyHitters.exactTopK(docs, textCol, k, capacity))
  }

  /** kcenter_select(table, id_col, vec_col, k) — greedy k-center coreset
    * selection ([[graft.operators.KCenter]]); the per-round argmax
    * collects are deferred behind a [[DeferredResult]] leaf (EXPLAIN
    * never scans).
    */
  def kcenterBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "kcenter_select"
    if (args.length != 4) wrongNumArgs(fn, "4", args.length)
    val df = table(fn, strArg(fn, args, 0, "input table"))
    val idCol = strArg(fn, args, 1, "id column")
    val vecCol = strArg(fn, args, 2, "vector column")
    val k = intArg(fn, args, 3, "k")
    if (k < 1 || k > 1024) fail(s"$fn argument 4 (k) must be in [1, 1024], got $k")
    if (!df.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the input table")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sel_dist2",
          org.apache.spark.sql.types.DoubleType))),
      df, Seq(idCol, vecCol, k),
      () => graft.operators.KCenter.select(df, idCol, vecCol, k))
  }

  /** kmeans_assign(table, id_col, vec_col, k, iters) — trains Lloyd's
    * k-means on the table and returns the final assignment
    * `(id, cluster, dist2)` ([[graft.operators.KMeans]]). Training (iters
    * rounds of assignment + k·d mean collects) is deferred behind a
    * [[DeferredResult]] leaf — EXPLAIN never scans or trains; iters stays
    * capped for the SQL form.
    */
  def kmeansAssignBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "kmeans_assign"
    if (args.length != 5) wrongNumArgs(fn, "5", args.length)
    val df = table(fn, strArg(fn, args, 0, "input table"))
    val idCol = strArg(fn, args, 1, "id column")
    val vecCol = strArg(fn, args, 2, "vector column")
    val k = intArg(fn, args, 3, "k")
    val iters = intArg(fn, args, 4, "iterations")
    if (k < 1 || k > 4096) fail(s"$fn argument 4 (k) must be in [1, 4096], got $k")
    if (iters < 0 || iters > 64)
      fail(s"$fn argument 5 (iterations) must be in [0, 64], got $iters")
    if (!df.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the input table")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dist2",
          org.apache.spark.sql.types.DoubleType))),
      df, Seq(idCol, vecCol, k, iters),
      () => graft.operators.KMeans.fit(df, idCol, vecCol, k, iters))
  }

  /** label_propagation(edges_table, src_col, dst_col, iters) —
    * synchronous community detection
    * ([[graft.operators.LabelPropagation]]); per-round joins and
    * argmaxes are deferred behind a [[DeferredResult]] leaf. Edges are
    * treated as undirected (the common community-detection form).
    */
  def labelPropagationBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "label_propagation"
    if (args.length != 4) wrongNumArgs(fn, "4", args.length)
    val df = table(fn, strArg(fn, args, 0, "edges table"))
    val srcCol = strArg(fn, args, 1, "src column")
    val dstCol = strArg(fn, args, 2, "dst column")
    val iters = intArg(fn, args, 3, "iterations")
    if (iters < 0 || iters > 64)
      fail(s"$fn argument 4 (iterations) must be in [0, 64], got $iters")
    if (!df.columns.contains(srcCol))
      fail(s"$fn argument 2 (src column): no column '$srcCol' in the edges table")
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", StringType),
        org.apache.spark.sql.types.StructField("lbl", StringType))),
      df, Seq(srcCol, dstCol, iters),
      () => graft.operators.LabelPropagation.run(df, srcCol, dstCol, iters))
  }

  /** corpus_drift(a_table, b_table, col, lo, hi, n_buckets) — numeric
    * fixed-bucket PSI between two snapshots; the 3-arg form
    * corpus_drift(a_table, b_table, col) computes categorical PSI over
    * the column's observed values ([[graft.operators.Drift]]).
    */
  def corpusDriftBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "corpus_drift"
    if (args.length != 3 && args.length != 6)
      wrongNumArgs(fn, "3 or 6", args.length)
    val a = table(fn, strArg(fn, args, 0, "snapshot A table"))
    val b = table(fn, strArg(fn, args, 1, "snapshot B table"))
    val colName = strArg(fn, args, 2, "column")
    if (args.length == 3)
      graft.operators.Drift.categoricalPsi(a, b, colName)
        .queryExecution.logical
    else {
      val lo = numArg(fn, args, 3, "bucket range low")
      val hi = numArg(fn, args, 4, "bucket range high")
      val n = intArg(fn, args, 5, "bucket count")
      if (hi <= lo) fail(s"$fn: need high > low, got [$lo, $hi]")
      if (n < 2 || n > 10000)
        fail(s"$fn argument 6 (bucket count) must be in [2, 10000], got $n")
      graft.operators.Drift.numericPsi(a, b, colName, lo, hi, n)
        .queryExecution.logical
    }
  }

  /** prefix_similarity_join(docs_table, id_col, text_col, threshold) */
  def prefixJoinBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "prefix_similarity_join"
    if (args.length != 4) wrongNumArgs(fn, "4", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val idCol = strArg(fn, args, 1, "id column")
    val textCol = strArg(fn, args, 2, "text column")
    val threshold = numArg(fn, args, 3, "threshold")
    if (threshold <= 0 || threshold > 1)
      fail(s"$fn argument 4 (threshold) must be in (0, 1], got $threshold")
    graft.operators.SetSimilarityJoin.join(docs, idCol, textCol, threshold)
      .queryExecution.logical
  }

  /** repetition_stats(docs_table, id_col, text_col, n) — Gopher
    * within-document repetition signals + keep/drop verdict
    * ([[graft.operators.Repetition]]). Fully declarative (one
    * explode→aggregate→window), so the builder returns the plan directly.
    */
  def repetitionStatsBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "repetition_stats"
    if (args.length != 4) wrongNumArgs(fn, "4", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val idCol = strArg(fn, args, 1, "id column")
    val textCol = strArg(fn, args, 2, "text column")
    val n = intArg(fn, args, 3, "n-gram width")
    if (n < 1 || n > 8) fail(s"$fn argument 4 (n-gram width) must be in [1, 8], got $n")
    if (!docs.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the documents table")
    graft.operators.Repetition.repetitiveFlag(
        graft.operators.Repetition.dupNgramStats(docs, idCol, textCol, n))
      .queryExecution.logical
  }

  /** dsir_weights(docs_table, id_col, text_col, target_col, n_slots) —
    * DSIR importance log-weights ([[graft.operators.Dsir]]):
    * `target_col` names a BOOLEAN column marking the target slice.
    * Deferred: the slot-model build materializes an intermediate, which
    * must not run at analysis/EXPLAIN time.
    */
  def dsirWeightsBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "dsir_weights"
    if (args.length != 5) wrongNumArgs(fn, "5", args.length)
    val docs = table(fn, strArg(fn, args, 0, "documents table"))
    val idCol = strArg(fn, args, 1, "id column")
    val textCol = strArg(fn, args, 2, "text column")
    val targetCol = strArg(fn, args, 3, "target flag column")
    val nSlots = intArg(fn, args, 4, "slot count")
    if (nSlots < 2 || nSlots > (1 << 20))
      fail(s"$fn argument 5 (slot count) must be in [2, 2^20], got $nSlots")
    if (!docs.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the documents table")
    if (!docs.columns.contains(textCol))
      fail(s"$fn argument 3 (text column): no column '$textCol' in the documents table")
    if (!docs.columns.contains(targetCol))
      fail(s"$fn argument 4 (target flag column): no column '$targetCol' in the documents table")
    if (docs.schema(targetCol).dataType !=
        org.apache.spark.sql.types.BooleanType)
      fail(s"$fn argument 4 (target flag column) must be BOOLEAN, got " +
        docs.schema(targetCol).dataType.simpleString)
    val idType = docs.schema(idCol).dataType
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("n_toks",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("log_weight",
          org.apache.spark.sql.types.DoubleType))),
      docs, Seq(idCol, textCol, targetCol, nSlots),
      () => graft.operators.Dsir.importanceWeights(docs,
        org.apache.spark.sql.functions.col(targetCol), idCol, textCol, nSlots))
  }

  /** Shared head of the chat TVFs: resolve the turns table, validate the
    * five named columns, and return it with the gap in microseconds.
    */
  private def chatArgs(fn: String, args: Seq[Expression])
      : (org.apache.spark.sql.DataFrame, String, String, String, String, String, Long) = {
    if (args.length != 7) wrongNumArgs(fn, "7", args.length)
    val t = table(fn, strArg(fn, args, 0, "turns table"))
    val u = strArg(fn, args, 1, "user column")
    val ts = strArg(fn, args, 2, "event-time (microseconds) column")
    val tie = strArg(fn, args, 3, "tie-break column")
    val role = strArg(fn, args, 4, "role column")
    val text = strArg(fn, args, 5, "text column")
    val gapD = numArg(fn, args, 6, "gap (microseconds)")
    if (gapD != math.rint(gapD) || gapD < 1 || gapD > 86399999999.0)
      fail(s"$fn argument 7 (gap) must be a positive sub-day microsecond " +
        s"count, got $gapD")
    Seq(u, ts, tie, role, text).foreach { c =>
      if (!t.columns.contains(c))
        fail(s"$fn: no column '$c' in the turns table")
    }
    (t, u, ts, tie, role, text, gapD.toLong)
  }

  /** chat_render(turns_table, user_col, ts_us_col, tie_col, role_col,
    * text_col, gap_us) — gap-sessionized chat-template rendering
    * ([[graft.operators.ChatSft]], the q155 shape). Pure declarative
    * plan — no deferral needed.
    */
  def chatRenderBuilder(args: Seq[Expression]): LogicalPlan = {
    val (t, u, ts, tie, role, text, gap) = chatArgs("chat_render", args)
    graft.operators.ChatSft.renderConversations(
        graft.operators.ChatSft.sessionTurns(t, u, ts, tie, gap), u, role, text)
      .queryExecution.logical
  }

  /** loss_mask_spans(turns_table, user_col, ts_us_col, tie_col, role_col,
    * text_col, gap_us) — assistant-turn loss-mask character spans into
    * the chat_render string (the q156 shape).
    */
  def lossMaskSpansBuilder(args: Seq[Expression]): LogicalPlan = {
    val (t, u, ts, tie, role, text, gap) = chatArgs("loss_mask_spans", args)
    graft.operators.ChatSft.lossMaskSpans(
        graft.operators.ChatSft.sessionTurns(t, u, ts, tie, gap), u, role, text)
      .queryExecution.logical
  }

  /** mmr_rerank(emb_table, id_col, vec_col, query_id, n_candidates, k,
    * lambda) — MMR diversified top-k ([[graft.operators.Mmr]]). Deferred:
    * the greedy loop collects the bounded candidate set, which must not
    * run at analysis/EXPLAIN time.
    */
  def mmrRerankBuilder(args: Seq[Expression]): LogicalPlan = {
    val fn = "mmr_rerank"
    if (args.length != 7) wrongNumArgs(fn, "7", args.length)
    val emb = table(fn, strArg(fn, args, 0, "embeddings table"))
    val idCol = strArg(fn, args, 1, "id column")
    val vecCol = strArg(fn, args, 2, "vector column")
    val queryId = numArg(fn, args, 3, "query id")
    val c = intArg(fn, args, 4, "candidate count")
    val k = intArg(fn, args, 5, "k")
    val lambda = numArg(fn, args, 6, "lambda")
    if (queryId != math.rint(queryId))
      fail(s"$fn argument 4 (query id) must be an integer, got $queryId")
    if (c < 1 || c > graft.operators.Mmr.MaxCandidates)
      fail(s"$fn argument 5 (candidate count) must be in [1, " +
        s"${graft.operators.Mmr.MaxCandidates}], got $c")
    if (k < 1 || k > c) fail(s"$fn argument 6 (k) must be in [1, candidate count], got $k")
    if (lambda < 0 || lambda > 1)
      fail(s"$fn argument 7 (lambda) must be in [0, 1], got $lambda")
    if (!emb.columns.contains(idCol))
      fail(s"$fn argument 2 (id column): no column '$idCol' in the embeddings table")
    // validate the id TYPE at analysis time too — the deferred thunk's
    // driver-side greedy keys on Long, and an unvalidated string id would
    // otherwise surface as a deep error at first action (round-10 review)
    emb.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case t => fail(s"$fn argument 2 (id column): '$idCol' must be an " +
        s"integral column (output widens to BIGINT), got ${t.simpleString}")
    }
    DeferredResult.memoized(fn,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sel_rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rel",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("mmr_score",
          org.apache.spark.sql.types.DoubleType))),
      emb, Seq(idCol, vecCol, queryId.toLong, c, k, lambda),
      () => graft.operators.Mmr.diversifiedTopK(emb, idCol, vecCol,
        queryId.toLong, c, k, lambda))
  }
}
