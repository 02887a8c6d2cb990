package graft

import graft.operators.{Ann, DedupClusters, MinHashLSH, Vec}
import graft.queries.Curation
import org.apache.spark.sql.functions._

/** END-TO-END capstone: the stages a real corpus operator runs, composed
  * through the library's PUBLIC API on the real testdata — JSONL ingestion,
  * exact duplicated-substring excision (Lee et al.-style, acting before the
  * fuzzier near-dup pass), LSH near-dup dedup to a survivor set, the living bucketed table
  * (upsert → compact), incrementally maintained stats, and the embedding
  * and text indexes. Every stage is
  * unit-tested elsewhere; this spec proves they COMPOSE: each stage
  * consumes the previous stage's real output, and the invariants asserted
  * at the end (row accounting, key uniqueness, stats equality, index
  * completeness) hold across the whole chain.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("jsonl → dedup → living table → stats → index: the stages compose") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    val docs = Tables.documents(spark, sf())

    // 1 — ingestion: the corpus arrives as JSONL shards; read back with the
    // EXPLICIT schema (inference would cost a second corpus scan)
    docs.write.mode("overwrite").json(s"$root/raw")
    val ingested = spark.read.schema(docs.schema).json(s"$root/raw")
    val nRaw = ingested.count()
    assert(nRaw == docs.count())

    // 1b — exact substring dedup ACTS first: duplicated spans excised so
    // verbatim boilerplate cannot glue otherwise-distinct docs together in
    // the fuzzier near-dup stage; fully-excised docs (nothing original
    // left) drop out of the corpus here
    val excised = SubstringDedupSpec.excise(ingested, "doc_id", "text", k = 20)
    assert(excised.count() == nRaw, "excise must emit every input doc")
    val removed = excised.agg(sum(col("removed_chars"))).as[Long].head()
    assert(removed > 0, "synthetic corpus is heavily duplicated; none removed")
    val cleanDocs = ingested.drop("text")
      .join(excised.filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text").as("text")), "doc_id")

    // 2 — near-dup dedup: LSH candidates → exact-Jaccard verify → connected
    // components → keep the smallest doc_id per cluster
    val lsh = MinHashLSH(numHashes = 12, numBands = 3, shingleSize = 1)
    val candidates = lsh.candidatePairs(cleanDocs, "doc_id", "text", maxBucket = 200)
    val pairs = lsh.verifyJaccard(candidates, cleanDocs, "doc_id", "text")
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a"), col("id_b"))
    val assign = DedupClusters.clusterAssignments(cleanDocs, "doc_id", pairs)
    val keep = assign.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val survivors = cleanDocs.join(keep, "doc_id")
    val nSurv = survivors.count()
    assert(nSurv > 0 && nSurv <= nRaw)

    // 3 — the living table: bucketed layout, then one correction upsert
    // and one compaction pass
    val table = s"$root/corpus"
    Curation.writeBucketed(survivors, table, "doc_id", numBuckets = 8)
    val firstId = survivors.agg(min(col("doc_id"))).as[Long].head()
    val fix = survivors.filter(col("doc_id") === firstId)
      .withColumn("text", concat(col("text"), lit(" [fixed]")))
    Curation.upsertByKey(spark, table, fix, "doc_id", numBuckets = 8)
    Curation.compactBuckets(spark, table, maxFilesPerBucket = 4)
    val live = spark.read.parquet(table)
    assert(live.count() == nSurv, "row accounting after upsert")
    assert(live.select("doc_id").distinct().count() == nSurv, "keys stay unique")
    assert(live.filter(col("doc_id") === firstId)
      .select("text").as[String].head().endsWith("[fixed]"), "correction visible")

    // 4 — stats maintained batch-by-batch over the ingest == recompute
    val statsPath = s"$root/stats"
    Curation.mergeDocStats(spark, statsPath, ingested.filter(col("doc_id") % 2 === 0))
    Curation.mergeDocStats(spark, statsPath, ingested.filter(col("doc_id") % 2 === 1))
    def statsSet(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "lang", "n_docs", "sum_chars", "checksum")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(statsSet(spark.read.parquet(statsPath)) ==
      statsSet(Curation.docStats(ingested)), "maintained stats drifted")

    // 5 — embedding search over the corpus's vectors: IVF cells, then
    // exact cosine over the probed candidates
    val emb = Tables.embeddings(spark, sf())
      .select(col("vec_id").as("id"), col("embedding")).as[Vec]
    val hits = Ann.ivfTopK(spark, emb, Seq(1L), k = 5, nprobe = 4)
    assert(hits.count() > 0, "IVF search returned nothing")

    // 6 — the SEMANTIC dedup index: built on the backfill, then queried
    // for arrival-time duplicate decisions without re-quantizing the corpus
    val embDf = emb.toDF("vec_id", "embedding")
    val semIdx = s"$root/semidx"
    val semCents = embDf.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    graft.operators.SemDeDup.buildIndex(
      embDf.filter(col("vec_id") >= 8 && col("vec_id") < 400),
      "vec_id", "embedding", semCents, semIdx)
    val semPairs = graft.operators.SemDeDup.incrementalPairs(
      embDf.filter(col("vec_id") >= 400), embDf, "vec_id", "embedding", semIdx,
      minCos = -1.0)
    assert(semPairs.count() > 0, "semantic index yielded no same-cluster pairs")

    // 7 — text → vector → ANN with NO external embedding model: the
    // feature-hash embedding (q96's long form) assembled into dense
    // vectors and searched with the same ANN operators
    val fh = graft.queries.Catalog.queries("q96_feature_hash")(spark, sf())
    val vecs = fh.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("w")))).as("m"))
      .select(col("doc_id").as("id"),
        transform(sequence(lit(0L), lit(15L)),
          i => coalesce(element_at(col("m"), i), lit(0.0)).cast("float"))
          .as("embedding"))
    val queries = vecs.filter(col("id") < 3)
      .select(col("id").as("q_id"), col("embedding").as("q_emb"))
    val topText = Ann.bruteForceTopK(vecs.filter(col("id") >= 3), queries, 5)
    assert(topText.groupBy("q_id").count().filter(col("count") === 5).count() == 3,
      "each text query must retrieve a full top-5 from its hashed vectors")

    // 8 — the LIVE corpus becomes keyword-searchable: inverted index built
    // from the living table (post-upsert), BM25 retrieval returns live docs
    val tIdx = s"$root/textidx"
    graft.operators.TextIndex.buildTextIndex(live, "doc_id", "text", tIdx)
    val ranked = graft.operators.TextIndex
      .bm25TopK(spark, tIdx, Seq("spark", "join", "stream"), k = 10)
    assert(ranked.count() > 0, "retrieval over the live corpus found nothing")
    val rankedIds = ranked.select("doc_id").as[Long].collect().toSet
    assert(rankedIds.subsetOf(
      live.select("doc_id").as[Long].collect().toSet),
      "retrieval returned a doc not in the live table")
  }

  test("cascade → trained quality filter → BPE-budget packing → drift alarm compose") {
    import graft.operators.{Bpe, Drift, QualityClassifier}
    val docs = Tables.documents(spark, sf())
    val nRaw = docs.count()

    // 1 — weak supervision: rule-cascade labels, no human annotation
    val labels = QualityClassifier.cascadeLabels(docs)

    // 2 — in-engine training on those labels, then score EVERY doc with
    // the learned literal weights (the deployable inference path)
    val feat = QualityClassifier.features(docs)
    val wts = QualityClassifier.trainLogistic(feat, labels, iters = 3)
    val scored = QualityClassifier.score(feat, wts)

    // 3 — the model IS the filter: keep p >= 0.5. The filter must bite
    // (drop something) without emptying the corpus.
    val kept = docs.join(scored.filter(col("p") >= 0.5).select("doc_id"), "doc_id")
    val nKept = kept.count()
    assert(nKept > 0 && nKept < nRaw,
      s"quality filter must be selective: kept $nKept of $nRaw")

    // 4 — BPE trained on the SURVIVING corpus; its piece counts (the
    // model-visible token budget, not whitespace words) drive q58-style
    // deterministic sequence packing
    val (merges, dict) = Bpe.train(Bpe.wordTypes(kept, "text"), 6)
    assert(merges.nonEmpty)
    val counts = Bpe.encodeCounts(kept, dict, "doc_id", "text")
    val capacity = 2048
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packed = kept.select(col("doc_id"), col("source"),
        floor(col("doc_id") / 1000.0).cast("int").as("shard"))
      .join(counts, "doc_id")
      .withColumn("cum_before", sum(col("n_pieces")).over(w) - col("n_pieces"))
      .select(col("source"), col("shard"),
        floor(col("cum_before") / capacity.toDouble).cast("int").as("bin"),
        col("n_pieces"))
      .groupBy(col("source"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_pieces")).as("bin_tokens"))
    // token accounting: packing must conserve the corpus's BPE budget
    val budget = counts.agg(sum(col("n_pieces"))).as[Long].head()
    val packedTotal = packed.agg(sum(col("bin_tokens"))).as[Long].head()
    assert(packedTotal == budget,
      s"packing lost tokens: $packedTotal of $budget")

    // 5 — the q127 monitoring hook closes the loop: quality filtering
    // CHANGED the corpus (the cascade gates on 100-500 chars), so the
    // input-vs-output length PSI must fire the action threshold, while
    // the drift metric itself stays finite and well-defined
    val psi = Drift.numericPsi(docs, kept, "n_chars", 0.0, 600.0, 12,
        metric = "n_chars")
      .unionByName(Drift.categoricalPsi(docs, kept, "lang", metric = "lang"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(psi("n_chars") > 0.25,
      s"length-selective filtering must alarm the drift monitor: $psi")
    assert(psi("lang") >= 0.0 && !psi("lang").isNaN && !psi("lang").isInfinite)

    // 6 — a DIVERSE annotation slice from the kept corpus: the q96-style
    // hashed feature vectors feed greedy k-center, and the selected ids
    // must be kept docs spread across more than one source (the point of
    // diversity sampling over top-N-by-score)
    val vecs = graft.operators.QualityClassifier.features(kept)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("x")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(15)),
          i => coalesce(element_at(col("m"), i), lit(0.0)).cast("float"))
          .as("fvec"))
    val slice = graft.operators.KCenter.select(vecs, "doc_id", "fvec", 8)
    val ids = slice.select(col("id")).as[Long].collect().toSet
    assert(ids.size == 8)
    val keptIds = kept.select(col("doc_id")).as[Long].collect().toSet
    assert(ids.subsetOf(keptIds), "annotation slice must come from kept docs")
    val srcCount = kept.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(countDistinct(col("source"))).as[Long].head()
    assert(srcCount > 1, "a diverse slice should span multiple sources")
  }

  test("kmeans clusters → balanced sample → mixture reweight → hard negatives compose") {
    import graft.operators.{KMeans, MixtureReweight, QualityClassifier}
    val emb = Tables.embeddings(spark, sf())
    val docs = Tables.documents(spark, sf())

    // 1 — cluster structure TRAINED in-engine (k-means, 2 Lloyd rounds)
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 6, iters = 2)
    val assigned = KMeans.assign(emb, "vec_id", "embedding", cents)
    assert(assigned.select(countDistinct(col("cluster"))).as[Long].head() > 1,
      "training must produce a non-degenerate clustering")

    // 2 — cluster-balanced sample: per-cluster quota in md5-hash order;
    // no cluster may exceed the quota and every nonempty cluster
    // contributes min(quota, size)
    val quota = 20
    val h = graft.functions.TextHash.h60(
      concat(lit("bal:"), col("id").cast("string")))
    val sample = assigned
      .select(col("id"), col("cluster"), h.as("hkey"))
      .withColumn("pick", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster")).orderBy(col("hkey"), col("id"))))
      .filter(col("pick") <= quota)
    val sizes = assigned.groupBy(col("cluster")).count()
      .as[(Long, Long)].collect().toMap
    val taken = sample.groupBy(col("cluster")).count()
      .as[(Long, Long)].collect().toMap
    taken.foreach { case (c, n) =>
      assert(n == math.min(quota.toLong, sizes(c)),
        s"cluster $c took $n of ${sizes(c)} with quota $quota")
    }

    // 3 — the balanced ids select a document slice (vec_id ≡ doc_id in
    // the fixture); mixture reweighting runs on ITS sources with the
    // trained classifier's pass rate as the metric
    val sliceDocs = docs.join(
      sample.select(col("id").as("doc_id")), "doc_id")
    val preds = QualityClassifier.centroidScores(
      QualityClassifier.features(sliceDocs),
      QualityClassifier.cascadeLabels(sliceDocs))
      .select(col("doc_id"), col("pred"))
    val per = sliceDocs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(preds, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens"),
        graft.queries.Parity.r6(avg(col("pred").cast("double"))).as("m"))
      .localCheckpoint(true)
    val tot = per.agg(sum(col("tokens")).as("ct"))
    val base = per.crossJoin(broadcast(tot))
      .select(col("source"),
        graft.queries.Parity.r6(col("tokens") / col("ct")).as("w0"), col("m"))
    val traj = MixtureReweight.reweight(
      base, "source", "w0", "m", iters = 3, eta = 0.5, cap = 0.5)
    val finalW = traj.filter(col("iter") === 3)
      .select(sum(col("weight"))).as[Double].head()
    assert(math.abs(finalW - 1.0) < 1e-3,
      s"reweighted mixture must stay normalized: $finalW")

    // 4 — hard negatives mined WITHIN the balanced sample: for 3 anchor
    // vectors, every returned negative must carry a different label and
    // come from the sample
    import graft.plans.GraftFunctions.vecDot
    graft.plans.GraftFunctions.register(spark)
    val sampleEmb = emb.join(sample.select(col("id").as("vec_id")), "vec_id")
    def nm(c: org.apache.spark.sql.Column) = sqrt(vecDot(c, c))
    val anchors = sampleEmb.orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("embedding").as("a_emb"), nm(col("embedding")).as("a_nm"))
    val negs = sampleEmb
      .select(col("vec_id"), col("label"), col("embedding"),
        nm(col("embedding")).as("nmv"))
      .join(broadcast(anchors), col("label") =!= col("a_label"))
      .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
        (vecDot(col("embedding"), col("a_emb"))
          / (col("nmv") * col("a_nm"))).as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("a_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 4)
    val rows = negs.collect()
    assert(rows.length == 12, s"3 anchors x 4 negatives, got ${rows.length}")
    assert(rows.forall(r => r.getAs[Int]("label") != r.getAs[Int]("a_label")),
      "a hard negative must carry a different label than its anchor")
    val sampleIds = sample.select(col("id")).as[Long].collect().toSet
    assert(rows.forall(r => sampleIds.contains(r.getAs[Long]("vec_id"))),
      "negatives must come from the balanced sample")

    // 5 — calibration closes the loop: the sampled docs' trained scores
    // become probabilities, and the curriculum consumes them — bands are
    // contiguous score ranges, so every band-1 doc must score at least
    // every band-4 doc (calibration is monotone, so p_cal inherits it)
    val sc = QualityClassifier.centroidScores(
      QualityClassifier.features(sliceDocs),
      QualityClassifier.cascadeLabels(sliceDocs))
      .select(col("doc_id"), col("score"), col("y"))
      .localCheckpoint(true)
    val (ca, cb) = QualityClassifier.calibratePlatt(sc, "score", "y",
      iters = 4, lr = 0.5)
    val withP = sc.select(col("doc_id"), col("score"),
      (lit(1.0) / (lit(1.0) + exp(-(lit(ca) * col("score") + lit(cb)))))
        .as("p_cal"))
    val banded = withP.withColumn("band", ntile(4).over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))))
    val b1min = banded.filter(col("band") === 1)
      .agg(min(col("p_cal"))).as[Double].head()
    val b4max = banded.filter(col("band") === 4)
      .agg(max(col("p_cal"))).as[Double].head()
    assert(b1min >= b4max,
      s"curriculum bands must be probability-monotone: $b1min < $b4max")
  }

  test("chat render → loss masks → packing → preference pairs compose with exact accounting") {
    // The SFT-prep chain (q155–q158) through the declared catalog on
    // sf0.001: token and character accounting must AGREE across stages —
    // the packing's loss tokens are exactly the conversations' assistant
    // tokens, every mask span lies inside its conversation's rendered
    // length, and preference pairs draw from the scored population.
    val d = sf()
    def q(n: String) = graft.queries.Catalog.queries(n)(spark, d)
    val rendered = q("q155_chat_render").localCheckpoint(true)
    val spans = q("q156_loss_mask_spans").localCheckpoint(true)
    val packed = q("q157_sft_pack").localCheckpoint(true)
    val pairs = q("q158_preference_pairs").localCheckpoint(true)
    assert(rendered.count() > 0 && spans.count() > 0 &&
      packed.count() > 0 && pairs.count() > 0)
    // 1 — every span fits inside its conversation's rendered length
    val oob = spans.join(rendered, Seq("user_id", "session_id"))
      .filter(col("span_start") < 1 || col("span_end") > col("n_chars"))
      .count()
    assert(oob === 0L)
    // 2 — packing accounts every conversation exactly once
    val nConvs = rendered.count()
    val packedConvs = packed.agg(sum(col("n_convs"))).as[Long].head()
    assert(packedConvs === nConvs, s"$packedConvs packed vs $nConvs rendered")
    // 3 — EXACT loss-token accounting: q155's head is only 64 chars, so
    //     recompute each conversation's rendering from the shared turn
    //     frame, cut every span back out, tokenize the cuts exactly the
    //     way q157 tokenizes turns, and the sum must EQUAL the packing's
    //     loss_tokens (each span IS one assistant turn render)
    val fullRendered = graft.operators.ChatSft.renderConversations(
      graft.operators.ChatSft.sessionTurns(
        Tables.events(spark, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            graft.operators.ChatSft.roleOf(col("event_type")).as("role"),
            pmod(col("event_id"), lit(500)).as("doc_id"))
          .join(broadcast(Tables.documents(spark, d).filter(col("doc_id") < 500)
            .select(col("doc_id"), substring(col("text"), 1, 80).as("turn_text"))),
            "doc_id"),
        "user_id", "ts_us", "event_id", 1800000000L),
      "user_id", "role", "turn_text")
    val spanTokens = spans.join(fullRendered, Seq("user_id", "session_id"))
      .select(size(split(expr(
        "substr(rendered, cast(span_start as int), " +
          "cast(span_end - span_start + 1 as int))"), " ")).as("nt"))
      .agg(sum(col("nt"))).as[Long].head()
    val packedLossTokens = packed.agg(sum(col("loss_tokens"))).as[Long].head()
    assert(packedLossTokens > 0 && spanTokens === packedLossTokens,
      s"span tokens $spanTokens != packed loss tokens $packedLossTokens")
    // 4 — preference pairs: chosen/rejected ids are distinct documents
    //     from the corpus and margins are non-negative
    val bad = pairs.filter(col("chosen_id") === col("rejected_id") ||
      col("margin") < 0).count()
    assert(bad === 0L)
    // 5 — the packing ACTION (q160): every q156 span appears exactly once
    //     remapped into packed-sequence coordinates, and remapped spans
    //     stay disjoint within their (shard, bin) sequence
    val seqs = q("q160_sft_sequences").localCheckpoint(true)
    assert(seqs.count() === spans.count())
    val overlapping = seqs
      .withColumn("prev_end", lag(col("seq_end"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"), col("bin")).orderBy(col("seq_start"))))
      .filter(col("prev_end").isNotNull && col("seq_start") <= col("prev_end"))
      .count()
    assert(overlapping === 0L)
    // 6 — the dedup ACTION (q162) ahead of packing, with exact accounting:
    //     every sliced conversation is represented exactly once
    //     (sum(dup_count) == conversation count), no q159 near-dup pair
    //     survives with BOTH endpoints kept, and packing the deduped
    //     survivors conserves their token total exactly
    val deduped = q("q162_conversation_dedup_action").localCheckpoint(true)
    val sliced = rendered.filter(col("user_id") < 5)
    assert(deduped.agg(sum(col("dup_count"))).as[Long].head() === sliced.count(),
      "dedup action must account every conversation exactly once")
    val dupPairs = q("q159_conversation_neardup").localCheckpoint(true)
    val kept = deduped.select(col("user_id"), col("session_id"))
    val bothKept = dupPairs
      .join(kept.toDF("user_a", "sess_a"), Seq("user_a", "sess_a"))
      .join(kept.toDF("user_b", "sess_b"), Seq("user_b", "sess_b"))
      .count()
    assert(bothKept === 0L,
      s"$bothKept near-dup pairs kept both endpoints — the action dropped nothing")
    // pack ONLY the survivors (the "ahead of packing" wiring): the
    // quotient binning of the kept slice, computed by the DataFrame
    // window, must equal an independent driver-side fold over the same
    // rows in the same (user_id, session_id) order — a real
    // cross-implementation check of the cum/bin arithmetic (a
    // partition-and-resum identity would hold for ANY bin assignment)
    val convTok = fullRendered
      .filter(col("user_id") < 5)
      .join(kept, Seq("user_id", "session_id"))
      .select(col("user_id").cast("long"), col("session_id").cast("long"),
        size(split(col("rendered"), " ")).cast("long").as("nt"))
      .localCheckpoint(true)
    val wPack = org.apache.spark.sql.expressions.Window
      .orderBy(col("user_id"), col("session_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val dfBins = convTok
      .withColumn("cum", sum(col("nt")).over(wPack))
      .withColumn("bin", floor((col("cum") - col("nt")) / 2048.0).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("nt")).as("bin_tokens"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val folded = scala.collection.mutable.Map[Long, (Long, Long)]()
    var cum = 0L
    convTok.orderBy(col("user_id"), col("session_id"))
      .as[(Long, Long, Long)].collect().foreach { case (_, _, nt) =>
        val bin = cum / 2048L
        val (n0, t0) = folded.getOrElse(bin, (0L, 0L))
        folded(bin) = (n0 + 1, t0 + nt)
        cum += nt
      }
    assert(dfBins == folded.toMap,
      s"survivor packing bins diverge: window=$dfBins fold=${folded.toMap}")
    assert(cum > 0 && dfBins.values.map(_._2).sum === cum)
    // 7 — the OTHER packing regime end-to-end: the q163 A/B found the
    //     regime split (quotient for tiny convs, BFD near capacity), so the
    //     capstone packs the SAME dedup survivors through the q164
    //     hard-capacity BFD arm too, with the same exact accounting:
    //     every survivor placed exactly once, no multi-conversation bin
    //     over capacity (only an oversize singleton may exceed it), token
    //     totals conserved, and q156's spans remapped into BFD sequence
    //     coordinates stay in-bounds, length-preserving and disjoint.
    val bfdItems = convTok
      .select(floor(col("user_id") / 10.0).cast("int").as("shard"),
        col("user_id").as("k1"), col("session_id").as("k2"), col("nt").as("n_tokens"))
    val bfd = graft.operators.Packing.bfdAssignments(bfdItems, 2048L)
      .localCheckpoint(true)
    assert(bfd.count() === convTok.count(),
      "BFD must place every dedup survivor exactly once")
    assert(bfd.select(col("k1"), col("k2")).distinct().count() === convTok.count())
    val overCap = bfd.groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok"))
      .filter(col("n") > 1 && col("tok") > 2048L).count()
    assert(overCap === 0L,
      s"$overCap multi-conversation BFD bins exceed capacity — the hard cap leaked")
    assert(bfd.agg(sum(col("n_tokens"))).as[Long].head() === cum,
      "BFD packing must conserve the survivors' token total")
    // spans → BFD coordinates (the q165 remap shape on the survivor slice):
    // concatenation order within a bin = BFD placement order
    // (n_tokens desc, user_id, session_id), "\n\n" joiner
    val wBfd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("bin"))
      .orderBy(col("n_tokens").desc, col("user_id"), col("session_id"))
    val bfdOffs = bfd
      .select(col("shard"), col("bin"), col("k1").as("user_id"),
        col("k2").as("session_id"), col("n_tokens"))
      .join(fullRendered.select(col("user_id").cast("long").as("user_id"),
        col("session_id").cast("long").as("session_id"),
        length(col("rendered")).cast("long").as("r_len")),
        Seq("user_id", "session_id"))
      .withColumn("conv_off",
        sum(col("r_len")).over(wBfd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) - col("r_len")
          + (row_number().over(wBfd) - 1) * 2L)
    val bfdSeqs = spans
      .select(col("user_id").cast("long").as("user_id"),
        col("session_id").cast("long").as("session_id"),
        col("span_start"), col("span_end"))
      .join(bfdOffs, Seq("user_id", "session_id"))
      .select(col("shard"), col("bin"),
        (col("conv_off") + col("span_start")).as("seq_start"),
        (col("conv_off") + col("span_end")).as("seq_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("conv_off"), col("r_len"))
      .localCheckpoint(true)
    // every survivor's span remapped exactly once (survivors only — the
    // dropped duplicates' spans must NOT appear)
    val survivorSpans = spans
      .join(kept.toDF("user_id", "session_id"), Seq("user_id", "session_id"))
      .count()
    assert(bfdSeqs.count() === survivorSpans,
      "BFD sequences must carry exactly the survivors' spans")
    // in-bounds within the conversation's slot, length preserved
    val oobBfd = bfdSeqs.filter(
      col("seq_start") < col("conv_off") + 1 ||
        col("seq_end") > col("conv_off") + col("r_len") ||
        col("seq_end") - col("seq_start") =!= col("span_len")).count()
    assert(oobBfd === 0L, s"$oobBfd BFD-remapped spans out of bounds or resized")
    // disjoint within each (shard, bin) sequence
    val bfdOverlap = bfdSeqs
      .withColumn("prev_end", lag(col("seq_end"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"), col("bin")).orderBy(col("seq_start"))))
      .filter(col("prev_end").isNotNull && col("seq_start") <= col("prev_end"))
      .count()
    assert(bfdOverlap === 0L, s"$bfdOverlap overlapping spans in BFD sequences")
  }
}
