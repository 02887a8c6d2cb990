package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import graft.operators.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal + similarity-search declared queries (q38, q39). */
object Media {

  /** Multimodal column pipeline, oracle-checked: build the
    * struct<uri,bytes,meta> media column, then extract the stub-codec
    * header fields FROM THE BINARY BYTES with Spark binary functions
    * (hex/substr/conv) — proving the bytes plumbing — while DuckDB derives
    * the same values from the md5 hex string.
    */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
    val bytes = col("media.bytes")
    def byteAt(i: Int): org.apache.spark.sql.Column =
      conv(hex(substring(bytes, i, 1)), 16, 10).cast("int")
    media.select(
      col("doc_id"),
      col("media.uri").as("uri"),
      length(bytes).cast("int").as("n_bytes"),
      (byteAt(1) % 128 + 1).as("width"),
      (byteAt(2) % 128 + 1).as("height"),
      (byteAt(3) % 8 + 1).as("n_frames"),
      round(
        aggregate(
          transform(sequence(lit(1), lit(16)),
            i => conv(hex(bytes.substr(i, lit(1))), 16, 10).cast("long")),
          lit(0L), (acc, v) => acc + v).cast("double") / 16.0,
        4).as("mean_byte"),
      element_at(col("media.meta"), "lang").as("meta_lang"))
      .orderBy(col("doc_id"))
  }

  private val q38Sql =
    """SELECT doc_id,
      |  'mem://' || source || '/' || doc_id || '.img' AS uri,
      |  CAST(octet_length(from_hex(md5(text))) AS INT) AS n_bytes,
      |  CAST(('0x' || substr(md5(text), 1, 2))::INT % 128 + 1 AS INT) AS width,
      |  CAST(('0x' || substr(md5(text), 3, 2))::INT % 128 + 1 AS INT) AS height,
      |  CAST(('0x' || substr(md5(text), 5, 2))::INT % 8 + 1 AS INT) AS n_frames,
      |  ROUND(CAST(list_sum(list_transform(generate_series(1, 16),
      |    i -> ('0x' || substr(md5(text), i*2-1, 2))::BIGINT)) AS DOUBLE) / 16.0, 4) AS mean_byte,
      |  lang AS meta_lang
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** B21 — exact ANN baseline: top-5 cosine neighbors for query vectors
    * {1,2,3} via the broadcast-queries brute-force operator (the LSH scale
    * path is Ann.lshTopK, recall-tested in AnnSpec).
    */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val corpus = e.select(col("vec_id").as("id"), col("embedding"))
    val queries = e.filter(col("vec_id").isin(1, 2, 3))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Ann.bruteForceTopK(corpus.filter(!col("id").isin(1, 2, 3)), queries, 5)
      .select(col("q_id"), col("rank"), col("id"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val q39Sql =
    """WITH c AS (
      |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
      |  FROM embeddings
      |), scored AS (
      |  SELECT q.id AS q_id, c.id,
      |    list_dot_product(q.e, c.e) / (q.nm * c.nm) AS cs
      |  FROM c, (SELECT * FROM c WHERE id IN (1, 2, 3)) q
      |  WHERE c.id NOT IN (1, 2, 3)
      |)
      |SELECT q_id, rank, id, ROUND(cs, 4) AS cos_sim
      |FROM (
      |  SELECT q_id, id, cs,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cs DESC, id) AS INT) AS rank
      |  FROM scored
      |) t
      |WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** B22/B34 — per-label embedding centroids in long form: posexplode →
    * two-key hash aggregate, the oracle shape.
    */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "c")))
      .groupBy(col("label"), col("pos"))
      // + 0.0 normalizes IEEE negative zero: a group mean of -0.00001 rounds
      // to -0.0 in one engine and 0.0 in the other (seen at sf0.001)
      .agg((round(avg(col("c").cast("double")), 4) + lit(0.0)).as("mean_c"),
        count(lit(1)).as("n"))
      .orderBy(col("label"), col("pos"))

  private val q41Sql =
    """SELECT label, idx - 1 AS pos,
      |  ROUND(AVG(CAST(v AS DOUBLE)), 4) + 0.0 AS mean_c, COUNT(*) AS n
      |FROM (
      |  SELECT label, unnest(embedding) AS v,
      |    generate_subscripts(embedding, 1) AS idx
      |  FROM embeddings
      |)
      |GROUP BY 1, 2
      |ORDER BY label, pos""".stripMargin

  /** B21/B22 — int8 scalar quantization of embeddings (the storage-
    * compression step before large-scale ANN): per-vector symmetric scale
    * = max|x|/127, quantized code = floor(x/scale + 0.5) — the floor form
    * because Spark's round() is HALF_UP while DuckDB's is half-even on
    * doubles, so an exact .5 boundary would hash-mismatch. All per-row
    * higher-order expressions.
    */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val absMax = aggregate(e, lit(0.0d), (acc, x) => greatest(acc, abs(x.cast("double"))))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), e, absMax.as("abs_max"))
      // the greatest() floor guards the all-zero vector: abs_max=0 would
      // make x/scale NaN and the int cast throw under ANSI mode
      .select(col("vec_id"), col("embedding"),
        (greatest(col("abs_max"), lit(1e-30)) / 127.0).as("scale"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        transform(col("embedding"),
          x => floor(x.cast("double") / col("scale") + 0.5).cast("int")).as("codes"))
      .select(
        col("vec_id"),
        col("scale_r"),
        element_at(col("codes"), 1).as("first_code"),
        array_max(col("codes")).as("max_code"),
        array_min(col("codes")).as("min_code"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + abs(c)).as("l1_codes"))
      .orderBy(col("vec_id"))
  }

  private val q59Sql =
    """WITH q AS (
      |  SELECT vec_id,
      |    GREATEST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30)
      |      / 127.0 AS scale,
      |    embedding
      |  FROM embeddings
      |), c AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS INT)) AS codes
      |  FROM q
      |)
      |SELECT vec_id,
      |  ROUND(scale, 6) AS scale_r,
      |  codes[1] AS first_code,
      |  list_max(codes) AS max_code,
      |  list_min(codes) AS min_code,
      |  CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS l1_codes
      |FROM c
      |ORDER BY vec_id""".stripMargin

  /** Multimodal resize planning through the TYPED pipeline (struct column →
    * Dataset[MediaRow] → per-partition codec decode → resize plan), not
    * just column expressions — so the oracle check covers the encoder and
    * mapPartitions plumbing too. DuckDB reproduces the stub codec's header
    * arithmetic from the md5 hex string.
    */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
    val decoded = Multimodal.decode(Multimodal.toMediaRows(media))
    Multimodal.resizePlan(decoded, maxSide = 64)
      .select(col("doc_id"), col("width"), col("height"), col("out_w"), col("out_h"))
      .orderBy(col("doc_id"))
  }

  private val q61Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(text), 1, 2))::INT % 128 + 1 AS INT) AS width,
      |    CAST(('0x' || substr(md5(text), 3, 2))::INT % 128 + 1 AS INT) AS height
      |  FROM documents
      |)
      |SELECT doc_id, width, height,
      |  CAST(CEIL(width * LEAST(1.0, 64.0 / GREATEST(width, height))) AS INT) AS out_w,
      |  CAST(CEIL(height * LEAST(1.0, 64.0 / GREATEST(width, height))) AS INT) AS out_h
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** IMAGE near-dup dedup as a full-corpus scale path (rows-only — DuckDB
    * cannot decode PNG): each document renders to a REAL 8×8 PNG whose
    * pixels sample the sorted distinct token set (order-insensitive, so
    * near-duplicate texts produce near-identical images — the testdata has
    * no binary media column, so the corpus stands in for one), then the
    * production chain runs unmodified: ImageIO decode → aHash64 → banded
    * (band, key) equi-join with the mega-bucket cap → exact bit_count on
    * candidates. ~700 pairs at sf0.01; cost is one PNG encode+decode per
    * document plus the banded join — no all-pairs path.
    */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the documents table is one parquet file -> ONE scan partition; the
    // per-doc codec work must fan out across cores (measured on q167's
    // 3-frame variant: the hash materialization alone drops 5.1 -> ~0.5 s
    // at local[32]; the banded-join stage dominates the warm total here,
    // so q95's end-to-end is render-bound only on fewer cores)
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        graft.multimodal.Multimodal.imageIoInMemory() // no disk cache file per encode
        it.map { case (id, text) =>
        val toks = sortedToks(text)
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < 64) {
          val g = math.floorMod(toks(i * toks.length / 64).hashCode, 256)
          img.setRGB(i % 8, i / 8, (g << 16) | (g << 8) | g)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        graft.multimodal.MediaRow(id, s"mem://doc/$id.png", bos.toByteArray, Map.empty)
      }}
    Multimodal.imageNearDupPairs(media, maxHamming = 3)
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  /** The VIDEO seam as a declared, ORACLE-CHECKED query (the q95 corpus-
    * stands-in-for-media pattern, multi-frame edition): each document
    * renders to a REAL animated GIF with doc_id % 4 + 2 frames, each frame
    * a uniform gray of (doc_id*31 + f*17) % 256 painted through an
    * explicit 256-gray IndexColorModel (palette indices survive the GIF
    * round-trip bit-exactly), then the production video path runs
    * unmodified — [[Multimodal.frameFeatures]]: open the container once,
    * scan the frame directory, decode ONLY the stride-sampled frames. The
    * oracle recomputes frame counts, sampled indices, and per-frame grays
    * from the defining arithmetic — so the real encode→demux→per-frame-
    * decode chain is hash-pinned end to end (a decoder that read frame 0
    * every time, or missampled the stride, fails the compare).
    */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism) // one file -> fan out the codec work
      .as[Long]
      .mapPartitions { it =>
        // one gray palette + ONE writer per partition (a partition iterator
        // is single-threaded, and an ImageIO writer is reusable across
        // outputs — per-row registry lookup + instantiation is the kind of
        // codec-init cost the mapPartitions batching exists to amortize;
        // the JDK GIF writer holds no native resources, so letting the
        // partition-long instance be GC'd without dispose() is safe)
        graft.multimodal.Multimodal.imageIoInMemory() // no disk cache file per encode
        val ramp = Array.tabulate[Byte](256)(_.toByte)
        val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        it.map { id =>
          val nf = (id % 4 + 2).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nf) {
              val g = ((id * 31 + f * 17) % 256).toInt
              val img = new java.awt.image.BufferedImage(8, 8,
                java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
              val r = img.getRaster
              var i = 0
              while (i < 64) { r.setSample(i % 8, i / 8, 0, g); i += 1 }
              writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
              f += 1
            }
            writer.endWriteSequence()
          } finally ios.close()
          graft.multimodal.MediaRow(id, s"mem://doc/$id.gif", bos.toByteArray, Map.empty)
        }
      }
    Multimodal.frameFeatures(media, stride = 2)
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"), col("mean_byte").cast("int").as("gray"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private val q166Sql =
    """SELECT d.doc_id,
      |  CAST(d.doc_id % 4 + 2 AS INT) AS n_frames,
      |  CAST(t.f AS INT) AS frame_idx,
      |  8 AS width, 8 AS height,
      |  CAST((d.doc_id * 31 + t.f * 17) % 256 AS INT) AS gray
      |FROM documents d,
      |  UNNEST(generate_series(0, CAST(d.doc_id % 4 + 1 AS BIGINT), 2)) AS t(f)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** VIDEO near-dup as a full-corpus scale path (rows-only — DuckDB cannot
    * decode GIF; q95's pattern lifted to frame SEQUENCES): each document
    * renders to a REAL 3-frame animated GIF whose frames sample the sorted
    * distinct token set under per-frame rotations (order-insensitive, so
    * near-duplicate texts produce near-identical frame sequences; painted
    * through the exact 256-gray palette so detection depends on content,
    * not GIF quantization), then the production chain runs unmodified:
    * one container decode per doc → per-frame aHash64 → rank-aligned
    * banded candidates → mean per-frame Hamming verdict. No all-pairs
    * path; the equality/threshold semantics are spec-pinned in
    * MultimodalSpec.
    *
    * Declared on the doc_id % 3 = 0 slice (the q140/q159 oracle-slice
    * discipline): the sf0.1 corpus carries a 1,965-document identical-
    * template bucket, so the FULL corpus's candidate volume is 6.9M raw
    * pairs / 62,169 verified — real work the bench budget shouldn't pay
    * per sweep; the full-corpus run is recorded in BASELINE (the operator
    * is unchanged — banded, bucket-capped — only the input is sliced).
    */
  /** The sliced video near-dup PAIR frame, computed once per dataset version
    * and landed in a scratch parquet (the q100/q105 shared-span shape):
    * q167 declares the pairs and q168 acts on them — detect once, act
    * many. Deterministic (integer ids, avg of integer bit-counts over
    * integer n_common — exact double arithmetic) so the cached path is
    * value-identical to inline.
    */
  private def videoPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = graft.Artifacts.onDisk("vidpairs167", s, dir) { out =>
      val media = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism) // one file -> fan out the codec work
        .as[(Long, String)]
        .mapPartitions { it =>
          graft.multimodal.Multimodal.imageIoInMemory() // no disk cache file per encode
          val ramp = Array.tabulate[Byte](256)(_.toByte)
          val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          it.map { case (id, text) =>
            val toks = sortedToks(text)
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            try {
              writer.setOutput(ios)
              writer.prepareWriteSequence(null)
              var f = 0
              while (f < 3) {
                val img = new java.awt.image.BufferedImage(8, 8,
                  java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
                val r = img.getRaster
                var i = 0
                while (i < 64) {
                  val g = math.floorMod(
                    toks(((i + f * 21) % 64) * toks.length / 64).hashCode, 256)
                  r.setSample(i % 8, i / 8, 0, g)
                  i += 1
                }
                writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
                f += 1
              }
              writer.endWriteSequence()
            } finally ios.close()
            graft.multimodal.MediaRow(id, s"mem://doc/$id.vid.gif", bos.toByteArray, Map.empty)
          }
        }
      Multimodal.videoNearDupPairs(media, stride = 1, maxMeanHamming = 3.0)
        .select(col("doc_id_a"), col("doc_id_b"),
          round(col("mean_hamming"), 4).as("mean_hamming"), col("n_common"))
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private def q167(s: SparkSession, dir: String): DataFrame =
    videoPairs(s, dir).orderBy(col("doc_id_a"), col("doc_id_b"))

  /** The video dedup ACTION closing q167's loop (the q113/q162 detect/act
    * split applied to the video family): near-dup pairs → connected
    * components → keep each component's lowest doc_id carrying dup_count.
    * Rows-only like its detector (DuckDB cannot decode GIF); the exact
    * accounting — every sliced video represented once, no pair surviving
    * whole — is pinned in MultimodalSpec.
    */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val members = Tables.documents(s, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"))
    val pairs = videoPairs(s, dir)
      .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"))
    graft.operators.DedupClusters.clusterAssignments(members, "doc_id", pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_size").as("dup_count"))
      .orderBy(col("doc_id"))
  }

  /** AUDIO near-dup pair frame — the missing third of the multimodal dedup
    * symmetry (image q95, video q167): each document renders to a REAL
    * PCM16 RIFF/WAVE clip whose loudness ENVELOPE samples the sorted
    * distinct token set (order-insensitive, so near-duplicate texts
    * produce near-identical envelopes; 64 constant-amplitude windows × 8
    * samples align exactly with [[Multimodal.audioFp64]]'s 64 envelope
    * cells), then the production chain runs unmodified: javax.sound PCM16
    * decode → 64-bit envelope fingerprint → banded (band, key) equi-join
    * with the mega-bucket cap → exact bit_count on candidates. No
    * all-pairs path. Rows-only (DuckDB cannot decode WAV); the
    * threshold/equality semantics are spec-pinned in MultimodalSpec.
    *
    * Computed once per dataset version and landed in a scratch parquet
    * (the q167→q168 detect-once shape): q169 declares the pairs, q170
    * acts on them. Deterministic (integer ids and bit-count Hamming), so
    * the cached path is value-identical to inline.
    */
  private def audioPairs(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Artifacts.onDisk("audpairs169", s, dir) { out =>
      Multimodal.audioNearDupPairs(audioMedia(s, dir), maxHamming = 3)
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  /** The documents-as-audio corpus render (one real PCM16 clip per doc)
    * behind the q169 pair build.
    */
  private def audioMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism) // one file -> fan out the codec work
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = sortedToks(text)
        // positive DC amplitude per window: window i's mean |amplitude|
        // is exactly amp, so the fingerprint depends on content only
        val amps = Array.tabulate[Short](64)(i =>
          (1 + math.floorMod(toks(i * toks.length / 64).hashCode, 4096)).toShort)
        graft.multimodal.MediaRow(id, s"mem://doc/$id.wav",
          Multimodal.envelopeWav(amps), Map.empty)
      })
  }

  /** Sorted distinct whitespace tokens with an empty-text guard: a
    * whitespace-only document splits to an EMPTY array (JVM semantics),
    * which would index-crash every `toks(i * toks.length / 64)` sampler —
    * fall back to one sentinel token so degenerate docs render a constant
    * (and therefore mutually-colliding, cap-bounded) asset instead of
    * poisoning the whole corpus render. Shared by the image (q95), video
    * (q167) and audio (q169) corpus-stands-in builders.
    */
  private def sortedToks(text: String): Array[String] = {
    val t = text.split(" ").distinct.sorted
    if (t.isEmpty) Array("") else t
  }

  private def q169(s: SparkSession, dir: String): DataFrame =
    audioPairs(s, dir).orderBy(col("doc_id_a"), col("doc_id_b"))

  /** The trim-planted audio corpus (round 15): members (doc_id % 3 == 0 —
    * the q167 video family's declared-slice precedent; BASELINE.md's
    * `audio_trim_neardup_50k` row records the full-corpus posture) each render
    * a 256-block clip whose per-block amplitude samples the doc's sorted
    * token set (the [[audioMedia]] recipe at 4× length), EXCEPT every
    * fifth member, which instead renders the PREVIOUS member's clip with
    * the first hop·(1 + memberIdx % 3) blocks trimmed off — the commonest
    * real audio edit, planted deterministically so the declared query has
    * known-answer pairs. The whole-clip fingerprint (q169's space)
    * scale-normalizes over the clip length and therefore MISSES these;
    * catching them is exactly what the sub-fingerprint family exists for
    * (spec-pinned in MultimodalSpec). The slice matters for cost: the
    * corpus's TEMPLATE documents render identical clips, whose composite
    * grams form mega-buckets; the first full-corpus build measured 310 s
    * cold at sf0.1 where the sliced one is ~30 s (sweep-1 forensics,
    * round 15).
    */
  /** The declared trim family's slice modulus — ONE constant tying the
    * corpus render, q175's member set, and the spec's plant arithmetic
    * together (a divergence would silently break the action's exact
    * accounting over the rendered corpus).
    */
  private[graft] val TrimSliceMod = 3

  /** Members are doc_id % [[TrimSliceMod]] == 0 (cost posture above). */
  private def audioTrimMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaRow] = {
    import s.implicits._
    // local defs only: an object-method call inside the mapPartitions
    // closure would capture Media$ (not serializable — the repo's
    // documented closure trap)
    def baseSamples(text: String): Array[Short] = {
      val t = text.split(" ").distinct.sorted // sortedToks, inlined
      val toks = if (t.isEmpty) Array("") else t
      Array.tabulate[Short](256 * 8) { sIdx =>
        val i = sIdx / 8
        (1 + math.floorMod(toks(i * toks.length / 256).hashCode, 4096)).toShort
      }
    }
    val mod = TrimSliceMod.toLong
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % mod === 0)
      .select(col("doc_id"), col("text"))
    val prev = docs.select((col("doc_id") + mod).as("doc_id"),
      col("text").as("prev_text"))
    docs.join(prev, Seq("doc_id"), "left")
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String, Option[String])]
      .mapPartitions(_.map { case (id, text, prevText) =>
        val memberIdx = id / mod
        val samples = prevText match {
          case Some(pt) if memberIdx % 5 == 4 =>
            // hop-aligned front trim of the previous member's clip:
            // 4 (hopBlocks) × 8 (blockSamples) × k samples
            baseSamples(pt).drop(4 * 8 * (1 + (memberIdx % 3)).toInt)
          case _ => baseSamples(text)
        }
        graft.multimodal.MediaRow(id, s"mem://doc/$id.trim.wav",
          Multimodal.pcm16Wav(samples), Map.empty)
      })
  }

  /** Trim-robust pair frame, detect-once (the q169/q170 artifact shape —
    * the family lands its shared on-disk artifact from day one, per the
    * round-14 cost-model rule): q174 declares the pairs, q175 acts on
    * them. Rows-only (DuckDB cannot decode WAV); planted-trim recall and
    * offsets are spec-pinned in MultimodalSpec.
    */
  private def audioTrimPairs(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Artifacts.onDisk("audtrim174", s, dir) { out =>
      Multimodal.audioNearDupPairsTrimTolerant(audioTrimMedia(s, dir),
        blockSamples = 8, hopBlocks = 4)
        .select(col("doc_id_a"), col("doc_id_b"), col("offset"),
          round(col("mean_hamming"), 4).as("mean_hamming"), col("n_common"))
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(p)
  }

  private def q174(s: SparkSession, dir: String): DataFrame =
    audioTrimPairs(s, dir).orderBy(col("doc_id_a"), col("doc_id_b"))

  /** The trim-family dedup ACTION (q170's shape on the trim pair graph;
    * members are the q174 slice, so accounting covers the rendered corpus
    * exactly — the q168 convention). */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val members = Tables.documents(s, dir)
      .filter(col("doc_id") % TrimSliceMod === 0)
      .select(col("doc_id"))
    val pairs = audioTrimPairs(s, dir)
      .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"))
    graft.operators.DedupClusters.clusterAssignments(members, "doc_id", pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_size").as("dup_count"))
      .orderBy(col("doc_id"))
  }

  /** The audio dedup ACTION closing q169's loop (q168's shape on the audio
    * pair graph): near-dup pairs → connected components → keep each
    * component's lowest doc_id carrying dup_count. Rows-only like its
    * detector; the exact accounting — every clip represented once, no
    * pair surviving whole — is pinned in MultimodalSpec.
    */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val members = Tables.documents(s, dir).select(col("doc_id"))
    val pairs = audioPairs(s, dir)
      .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"))
    graft.operators.DedupClusters.clusterAssignments(members, "doc_id", pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_size").as("dup_count"))
      .orderBy(col("doc_id"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q38_multimodal_media", q38, Some(q38Sql)),
    QueryDef("q39_ann_bruteforce", q39, Some(q39Sql)),
    QueryDef("q41_vector_stats", q41, Some(q41Sql)),
    QueryDef("q59_embedding_quantize", q59, Some(q59Sql)),
    QueryDef("q61_media_resize", q61, Some(q61Sql)),
    QueryDef("q95_image_neardup", q95, None),
    QueryDef("q166_video_frames", q166, Some(q166Sql)),
    QueryDef("q167_video_neardup", q167, None),
    QueryDef("q168_video_dedup_action", q168, None),
    QueryDef("q169_audio_neardup", q169, None),
    QueryDef("q170_audio_dedup_action", q170, None),
    QueryDef("q174_audio_trim_neardup", q174, None),
    QueryDef("q175_audio_trim_dedup_action", q175, None))
}
