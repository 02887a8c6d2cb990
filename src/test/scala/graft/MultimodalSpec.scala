package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("media column has the full struct schema and opaque bytes") {
    val media = Multimodal.mediaFromDocuments(docs)
    val f = media.schema("media").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(f.fieldNames.toSeq == Seq("uri", "bytes", "meta"))
    assert(f("bytes").dataType.typeName == "binary")
    assert(f("meta").dataType.typeName == "map")
    val r = media.select(col("media.bytes")).head().getAs[Array[Byte]](0)
    assert(r.length == 16) // md5 payload
  }

  test("batched decode is partition-preserving and deterministic") {
    val media = Multimodal.mediaFromDocuments(docs).repartition(4)
    val rows = Multimodal.toMediaRows(media)
    val decoded = Multimodal.decode(rows)
    assert(decoded.rdd.getNumPartitions == 4) // mapPartitions: no shuffle
    val d = decoded.collect()
    assert(d.length == docs.count())
    assert(d.forall(m => m.width >= 1 && m.width <= 128 && m.n_frames >= 1 && m.n_frames <= 8))
    // determinism: second run identical
    assert(Multimodal.decode(rows).collect().sortBy(_.doc_id).toSeq ==
      d.sortBy(_.doc_id).toSeq)
  }

  test("decode agrees with the q38 column-expression derivation") {
    val media = Multimodal.mediaFromDocuments(docs)
    val viaExpr = graft.SparkEntry.queries("q38_multimodal_media")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)].collect().toMap3
    val viaCodec = Multimodal.decode(Multimodal.toMediaRows(media)).collect()
    viaCodec.foreach { m =>
      assert(viaExpr(m.doc_id) == ((m.width, m.height, m.n_frames)), s"doc ${m.doc_id}")
    }
  }

  test("audioFp64 rejects non-audio and corrupt bytes loudly, never loops") {
    intercept[Exception] {
      Multimodal.audioFp64(Array.fill[Byte](64)(7))
    }
    // crafted negative chunk size: must error, not spin or parse garbage
    val bb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(24)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(-8)
    intercept[Exception] {
      Multimodal.audioFp64(bb.array())
    }
    // structurally valid but EMPTY data chunk: loud, not a silent NaN
    def emptyWav: Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(0)
      b.array()
    }
    val err = intercept[Exception] {
      Multimodal.audioFp64(emptyWav)
    }
    assert(err.getMessage.contains("empty audio"), err.getMessage)
  }

  test("aHash: near-identical images collide, distinct images diverge, banding finds the pair") {
    // deterministic structured images: a gradient with block patterns
    def patterned(seed: Int, perturb: Int): Array[Byte] = {
      val w = 64; val h = 64
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new java.util.Random(seed)
      // 8x8 blocks of random brightness — structure at exactly the hash's
      // cell granularity, so distinct seeds give far-apart hashes
      val blocks = Array.fill(8, 8)(rnd.nextInt(256))
      for (y <- 0 until h; x <- 0 until w) {
        val g = blocks(y / 8)(x / 8)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      // a light edit: flip a few scattered pixels (re-encode artifacts)
      val prnd = new java.util.Random(999)
      (0 until perturb).foreach { _ =>
        val x = prnd.nextInt(w); val y = prnd.nextInt(h)
        img.setRGB(x, y, 0xffffff)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = patterned(1, 0)
    val nearDup = patterned(1, 12) // same image, 12 of 4096 pixels edited
    val distinct = patterned(2, 0)
    // determinism: identical bytes, identical hash
    assert(Multimodal.aHash64(base) == Multimodal.aHash64(patterned(1, 0)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(Multimodal.aHash64(base), Multimodal.aHash64(nearDup)) <= 3,
      s"light edit moved the hash ${ham(Multimodal.aHash64(base), Multimodal.aHash64(nearDup))} bits")
    assert(ham(Multimodal.aHash64(base), Multimodal.aHash64(distinct)) > 10,
      s"distinct images only ${ham(Multimodal.aHash64(base), Multimodal.aHash64(distinct))} bits apart")
    // the banded pair join flags exactly the near-dup pair
    import graft.multimodal.MediaRow
    val rows = Seq(
      MediaRow(1L, "mem://a.png", base, Map.empty),
      MediaRow(2L, "mem://b.png", nearDup, Map.empty),
      MediaRow(3L, "mem://c.png", distinct, Map.empty)).toDS()
    val pairs = Multimodal.imageNearDupPairs(rows, maxHamming = 3)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // thresholds past the banding's pigeonhole guarantee are refused
    val err = intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(rows, maxHamming = 9)
    }
    assert(err.getMessage.contains("pigeonhole"))
  }

  test("audioFp64: re-encode-light edits collide, different envelopes diverge, banding pairs them") {
    import graft.multimodal.MediaRow
    // PCM16 mono WAV whose loudness envelope is a 64-block random pattern —
    // structure at exactly the fingerprint's window granularity
    def wavEnv(seed: Int, zeroed: Int): Array[Byte] = {
      val n = 6400 // 64 windows x 100 samples
      val rnd = new java.util.Random(seed)
      val env = Array.fill(64)(rnd.nextInt(8000) + 200)
      val samples = Array.tabulate(n) { s =>
        val amp = env(s / 100)
        (if (s % 2 == 0) amp else -amp).toShort
      }
      val prnd = new java.util.Random(777)
      (0 until zeroed).foreach(_ => samples(prnd.nextInt(n)) = 0)
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort(_))
      bb.array()
    }
    val base = wavEnv(1, 0)
    val nearDup = wavEnv(1, 20) // 20 of 6400 samples dropped out
    val distinct = wavEnv(2, 0)
    assert(Multimodal.audioFp64(base) == Multimodal.audioFp64(wavEnv(1, 0)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(Multimodal.audioFp64(base), Multimodal.audioFp64(nearDup)) <= 3,
      s"light edit moved the fp ${ham(Multimodal.audioFp64(base), Multimodal.audioFp64(nearDup))} bits")
    assert(ham(Multimodal.audioFp64(base), Multimodal.audioFp64(distinct)) > 10,
      s"distinct envelopes only ${ham(Multimodal.audioFp64(base), Multimodal.audioFp64(distinct))} bits apart")
    val rows = Seq(
      MediaRow(1L, "mem://a.wav", base, Map.empty),
      MediaRow(2L, "mem://b.wav", nearDup, Map.empty),
      MediaRow(3L, "mem://c.wav", distinct, Map.empty)).toDS()
    val pairs = Multimodal.audioNearDupPairs(rows, maxHamming = 3)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("resize plan caps the longest side") {
    val decoded = Multimodal.decode(Multimodal.toMediaRows(Multimodal.mediaFromDocuments(docs)))
    val plan = Multimodal.resizePlan(decoded, maxSide = 64).collect()
    assert(plan.forall { r =>
      val (w, h) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      w <= 64 && h <= 64 && w >= 1 && h >= 1
    })
  }

  test("frameFeatures decodes only the sampled frames, each with ITS OWN pixels") {
    import graft.multimodal.MediaRow
    // indexed-palette frames: gray g(f) = 20 + f*30 survives the GIF
    // round-trip bit-exactly, so each sampled frame's mean pins that the
    // right frame was decoded (a reader stuck on frame 0 fails here)
    def gif(frames: Int): Array[Byte] = {
      val ramp = Array.tabulate[Byte](256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until frames).foreach { f =>
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val r = img.getRaster
        for (y <- 0 until 8; x <- 0 until 8) r.setSample(x, y, 0, 20 + f * 30)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val rows = Seq(
      MediaRow(1L, "mem://v1.gif", gif(5), Map.empty[String, String]),
      MediaRow(2L, "mem://v2.gif", gif(1), Map.empty[String, String])).toDS()
    val got = Multimodal.frameFeatures(rows, stride = 2).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f).toMap
    assert(got.keySet == Set((1L, 0), (1L, 2), (1L, 4), (2L, 0)))
    got.foreach { case ((_, fi), f) =>
      assert(f.width == 8 && f.height == 8)
      assert(f.mean_byte == (20 + fi * 30).toDouble,
        s"frame $fi decoded wrong pixels: mean ${f.mean_byte}")
    }
    assert(got((1L, 0)).n_frames == 5 && got((2L, 0)).n_frames == 1)
    // stride must be positive
    intercept[IllegalArgumentException] {
      Multimodal.frameFeatures(rows, stride = 0)
    }
  }

  test("video near-dup: rank-aligned banded pairs find the noisy copy, not the stranger") {
    import graft.multimodal.MediaRow
    val ramp = Array.tabulate[Byte](256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    // patterned frames (gradients) so aHash has structure; `noise` flips a
    // few pixels slightly (a re-encode-style perturbation); `invert` makes
    // a genuinely different video
    def gif(frames: Int, noise: Int, invert: Boolean): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until frames).foreach { f =>
        val img = new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val r = img.getRaster
        for (y <- 0 until 16; x <- 0 until 16) {
          val base = if (invert) (15 - x) * 14 + (15 - y) * 2 else x * 14 + y * 2
          val v = math.min(255, base + f * 3 + (if (noise > 0 && (x + y * 16) % 37 == 0) noise else 0))
          r.setSample(x, y, 0, v)
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val rows = Seq(
      MediaRow(1L, "mem://v1.gif", gif(5, 0, invert = false), Map.empty[String, String]),
      // noisy copy with TWO extra frames: alignment must use the common ranks
      MediaRow(2L, "mem://v2.gif", gif(7, 2, invert = false), Map.empty[String, String]),
      MediaRow(3L, "mem://v3.gif", gif(5, 0, invert = true), Map.empty[String, String])).toDS()
    val pairs = Multimodal.videoNearDupPairs(rows, stride = 2, maxMeanHamming = 3.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(pairs.contains((1L, 2L)), s"noisy copy not found: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"inverted stranger matched: $pairs")
    // common ranks: v1 samples frames 0,2,4 (3 ranks); v2 samples 0,2,4,6
    // (4 ranks) — the verdict must aggregate over the 3 shared ranks
    assert(pairs((1L, 2L))._2 == 3L, s"expected 3 common ranks: ${pairs((1L, 2L))}")
    assert(pairs((1L, 2L))._1 <= 3.0)
    // frame hashes: rank is the alignment key and only sampled frames hash
    val fh = Multimodal.videoFrameHashes(rows, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fh.keySet.count(_._1 == 1L) == 3 && fh.keySet.count(_._1 == 2L) == 4)
    // per-rank hashes carry the signal the pairing rides on: the noisy
    // copy stays within the per-frame threshold at every shared rank, the
    // inverted stranger does not at rank 0
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    (0 until 3).foreach { k =>
      assert(ham(fh((1L, k)), fh((2L, k))) <= 3, s"rank $k drifted")
    }
    assert(ham(fh((1L, 0)), fh((3L, 0))) > 3)
    // overlap floor (round-13 advice): a 1-frame clip agreeing with a
    // 10-frame video on the single shared rank is NOT a near-dup of the
    // whole video at the default minCommonFrac (1 < ceil(0.5*5 ranks)),
    // but IS surfaced when the caller disables the floor
    val asym = Seq(
      MediaRow(1L, "mem://v1.gif", gif(10, 0, invert = false), Map.empty[String, String]),
      MediaRow(2L, "mem://clip.gif", gif(1, 0, invert = false), Map.empty[String, String])).toDS()
    assert(Multimodal.videoNearDupPairs(asym, stride = 2, maxMeanHamming = 3.0)
      .count() == 0L, "length-asymmetric pair escaped the overlap floor")
    val loose = Multimodal.videoNearDupPairs(asym, stride = 2, maxMeanHamming = 3.0,
      minCommonFrac = 0.0).collect()
    assert(loose.length == 1 && loose(0).getLong(3) == 1L,
      s"floor-disabled pair missing: ${loose.toSeq}")
  }

  test("video dedup action (q168): exact accounting over the q167 pair graph") {
    val d = sf()
    val pairs = graft.queries.Catalog.queries("q167_video_neardup")(spark, d)
      .localCheckpoint(true)
    val action = graft.queries.Catalog.queries("q168_video_dedup_action")(spark, d)
      .localCheckpoint(true)
    val sliced = Tables.documents(spark, d).filter(col("doc_id") % 3 === 0)
    // every sliced video represented exactly once
    assert(action.agg(sum(col("dup_count"))).as[Long].head() === sliced.count())
    // no near-dup pair survives with both endpoints kept
    val kept = action.select(col("doc_id"))
    val bothKept = pairs
      .join(kept.toDF("doc_id_a"), Seq("doc_id_a"))
      .join(kept.toDF("doc_id_b"), Seq("doc_id_b"))
      .count()
    assert(bothKept === 0L, s"$bothKept pairs kept both endpoints")
    // survivors are the lowest ids of their components: no survivor is the
    // HIGHER endpoint of any pair whose lower endpoint is also a survivor
    // (already implied by bothKept == 0; pin dup_count >= 1 and > 1 exists
    // whenever pairs exist)
    assert(action.filter(col("dup_count") < 1).count() === 0L)
    if (pairs.count() > 0)
      assert(action.filter(col("dup_count") > 1).count() > 0L)
  }

  test("audioFp64 fast path == javax.sound path on canonical and exotic WAVs") {
    // the round-14 lock-free direct RIFF parse must fingerprint exactly
    // like the javax.sound fallback it bypasses — on envelope WAVs,
    // square waves (negative samples), stereo, and a padded odd-size
    // chunk layout; a mono big-endian AIFF-style layout is NOT canonical
    // and must take the fallback (verified by equality anyway).
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { k =>
      val amps = Array.tabulate[Short](64)(_ =>
        (1 + rnd.nextInt(4096)).toShort)
      val wav = Multimodal.envelopeWav(amps)
      assert(Multimodal.audioFp64(wav) == MultimodalSpec.audioFp64ViaJavaxSound(wav),
        s"fast path diverged on envelope wav $k")
    }
    // VARYING samples incl. negatives (a constant |amplitude| hashes to 0
    // on every path and proves nothing — the round-14 second-review
    // finding), stereo, and a NON-FRAME-ALIGNED data chunk (1001 samples
    // at blockAlign 4): javax.sound frame-truncates to 1000 samples, and
    // the fast path must mirror that exactly
    def wav(rate: Int, channels: Int, n: Int, seed: Int): Array[Byte] = {
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * 2 * channels)
        .putShort((2 * channels).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      val r = new scala.util.Random(seed)
      for (_ <- 0 until n)
        bb.putShort((r.nextInt(20000) - 10000).toShort)
      bb.array()
    }
    Seq(wav(8000, 1, 400, 1), wav(44100, 2, 1001, 2), wav(44100, 2, 1000, 3),
      wav(16000, 1, 65, 4)).foreach { w =>
      assert(Multimodal.audioFp64(w) == MultimodalSpec.audioFp64ViaJavaxSound(w),
        "fast path diverged from javax.sound")
    }
    // sub-frame data (one stereo sample = half a frame) must stay a LOUD
    // error through the fallback, exactly like the pre-fast-path behavior
    val subFrame = wav(8000, 2, 1, 5)
    val e = intercept[Exception] { Multimodal.audioFp64(subFrame) }
    assert(e.getMessage.contains("empty audio"), e.getMessage)
    // non-RIFF bytes still fail loudly through the fallback
    intercept[Exception] { Multimodal.audioFp64(Array.fill[Byte](64)(7)) }
    // Declared-blockAlign gate (round-14 ADVICE): the fast path derives
    // frame size as 2·channels, and OpenJDK's reader HAPPENS to recompute
    // it the same way — so a malformed header (blockAlign=4 on mono PCM16)
    // is undetectable by output equality alone. Pin the routing: the
    // canonical parser must REJECT the mismatched header (falls back to
    // javax.sound) and accept it once corrected, and the end-to-end
    // fingerprint stays equal either way.
    val badAlign = wav(8000, 1, 400, 6)
    badAlign(44 - 12) = 4 // fmt body offset 12 (blockAlign lo byte): 2 -> 4
    assert(Multimodal.parseCanonicalPcm16(badAlign).isEmpty,
      "mismatched blockAlign must not take the fast path")
    assert(Multimodal.audioFp64(badAlign) ==
      MultimodalSpec.audioFp64ViaJavaxSound(badAlign))
    val goodAlign = wav(8000, 1, 400, 6)
    assert(Multimodal.parseCanonicalPcm16(goodAlign).isDefined)
    assert(Multimodal.audioFp64(goodAlign) == Multimodal.audioFp64(badAlign),
      "same samples must fingerprint identically through either path")
  }

  test("audio near-dup (q169): pairs are symmetric-free, thresholded, and find the template clones") {
    val d = sf()
    val pairs = graft.queries.Catalog.queries("q169_audio_neardup")(spark, d)
      .localCheckpoint(true)
    // contract: a < b (no self/dup pairs), Hamming within the declared threshold
    assert(pairs.filter(col("doc_id_a") >= col("doc_id_b")).count() === 0L)
    assert(pairs.filter(col("hamming") > 3).count() === 0L)
    // the corpus's identical-template documents render to identical
    // envelopes — at least one exact-collision pair must surface
    assert(pairs.filter(col("hamming") === 0).count() > 0L,
      "no exact envelope collision found — the render lost the near-dup signal")
    // determinism across invocations (the Scratch artifact is value-stable)
    val again = graft.queries.Catalog.queries("q169_audio_neardup")(spark, d)
    assert(pairs.count() === again.count())
  }

  test("audio dedup action (q170): exact accounting over the q169 pair graph") {
    val d = sf()
    val pairs = graft.queries.Catalog.queries("q169_audio_neardup")(spark, d)
      .localCheckpoint(true)
    val action = graft.queries.Catalog.queries("q170_audio_dedup_action")(spark, d)
      .localCheckpoint(true)
    // every clip represented exactly once
    assert(action.agg(sum(col("dup_count"))).as[Long].head() ===
      Tables.documents(spark, d).count())
    // no near-dup pair survives with both endpoints kept
    val kept = action.select(col("doc_id"))
    val bothKept = pairs
      .join(kept.toDF("doc_id_a"), Seq("doc_id_a"))
      .join(kept.toDF("doc_id_b"), Seq("doc_id_b"))
      .count()
    assert(bothKept === 0L, s"$bothKept pairs kept both endpoints")
    assert(action.filter(col("dup_count") < 1).count() === 0L)
    if (pairs.count() > 0)
      assert(action.filter(col("dup_count") > 1).count() > 0L)
  }

  test("trim-tolerant audio: hop-aligned trims pair at the planted offset; the whole-clip path misses them") {
    import graft.multimodal.MediaRow
    // per-block-constant clips: 256 blocks × 8 samples, blockSamples = 8 in
    // the operator so block means are exact
    val rnd = new scala.util.Random(11)
    val baseAmps = Array.fill[Short](256)((1 + rnd.nextInt(4096)).toShort)
    val otherAmps = Array.fill[Short](256)((1 + rnd.nextInt(4096)).toShort)
    def samplesOf(amps: Array[Short]): Array[Short] =
      Array.tabulate[Short](amps.length * 8)(s => amps(s / 8))
    val hop = 16
    val trimBlocks = 2 * hop // a 2-hop front trim: pure rank shift by 2
    val rows = Seq(
      MediaRow(1L, "mem://t/base.wav", Multimodal.pcm16Wav(samplesOf(baseAmps)), Map.empty),
      MediaRow(2L, "mem://t/trim.wav",
        Multimodal.pcm16Wav(samplesOf(baseAmps).drop(trimBlocks * 8)), Map.empty),
      MediaRow(3L, "mem://t/other.wav", Multimodal.pcm16Wav(samplesOf(otherAmps)), Map.empty)
    ).toDS()
    // sub-fp shape: base 256 blocks -> (256-64)/16+1 = 13 ranks; trim -> 11
    val sf16 = Multimodal.audioSubFps(rows, blockSamples = 8, hopBlocks = hop)
    val byDoc = sf16.groupBy(col("doc_id")).count().as[(Long, Long)].collect().toMap
    assert(byDoc(1L) === 13L && byDoc(2L) === 11L && byDoc(3L) === 13L)
    // the trimmed clip's rank j sub-fp is BIT-IDENTICAL to base rank j+2
    val fps = sf16.as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(x => x._2 -> x._3).toMap }
    (0 until 11).foreach(j => assert(fps(2L)(j) === fps(1L)(j + 2),
      s"rank $j of the trim != rank ${j + 2} of the base"))
    // pairs: exactly (1, 2) at offset +2, mean_hamming 0, full coverage of
    // the shorter side; the random distinct clip pairs with nothing
    val pairs = Multimodal.audioNearDupPairsTrimTolerant(rows,
      blockSamples = 8, hopBlocks = hop)
      .as[(Long, Long, Int, Double, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 2, 0.0, 11L)), pairs.mkString(", "))
    // the GAP this closes, demonstrated: the whole-clip fingerprint
    // scale-normalizes over the clip length, so the SAME trimmed pair
    // escapes the q169 operator entirely
    val whole = Multimodal.audioNearDupPairs(rows, maxHamming = 3).count()
    assert(whole === 0L,
      "the whole-clip path unexpectedly caught the trimmed pair — the trim family would be redundant")
    // PADDING is the trim's mirror image and must also pair (the scaladoc
    // claims both): front-padding prepends blocks (base aligns at a
    // NEGATIVE offset from the padded clip's perspective), end-padding
    // appends them (interior windows untouched -> offset 0)
    val padAmps = Array.fill[Short](trimBlocks)((1 + rnd.nextInt(4096)).toShort)
    val padded = Seq(
      MediaRow(1L, "mem://t/base.wav", Multimodal.pcm16Wav(samplesOf(baseAmps)), Map.empty),
      MediaRow(4L, "mem://t/frontpad.wav",
        Multimodal.pcm16Wav(samplesOf(padAmps ++ baseAmps)), Map.empty),
      MediaRow(5L, "mem://t/endpad.wav",
        Multimodal.pcm16Wav(samplesOf(baseAmps ++ padAmps)), Map.empty)
    ).toDS()
    val padPairs = Multimodal.audioNearDupPairsTrimTolerant(padded,
      blockSamples = 8, hopBlocks = hop)
      .as[(Long, Long, Int, Double, Long)].collect().sortBy(_._2).toSeq
    // (1,4): base rank j == front-padded rank j+2 -> offset = rank_a - rank_b = -2
    // (1,5): end-padded shares every base rank -> offset 0, full coverage
    // (4,5) is NOT a pair by the declared contract: the two paddings share
    // only the base's 13 windows of their 15 ranks each (13 < 0.9*15) —
    // the coverage floor treats "both extend a common core" differently
    // from "one is a trim of the other", by design
    assert(padPairs.map(p => (p._1, p._2, p._3, p._4)) ===
      Seq((1L, 4L, -2, 0.0), (1L, 5L, 0, 0.0)),
      padPairs.mkString(", "))
    // clips shorter than one full window fall back to the whole-clip space
    val shorty = Seq(
      MediaRow(7L, "mem://t/s1.wav", Multimodal.pcm16Wav(samplesOf(baseAmps.take(32))), Map.empty),
      MediaRow(8L, "mem://t/s2.wav", Multimodal.pcm16Wav(samplesOf(baseAmps.take(32))), Map.empty)
    ).toDS()
    val sFps = Multimodal.audioSubFps(shorty, blockSamples = 8, hopBlocks = hop)
      .as[(Long, Int, Long)].collect()
    assert(sFps.length === 2 && sFps.forall(_._2 == 0))
    assert(sFps(0)._3 === sFps(1)._3, "identical short clips must share the fallback fp")
  }

  test("audio trim family (q174/q175): planted predecessor trims are found and acted on") {
    val d = sf()
    // members = the q167-style declared slice; every fifth member renders
    // the previous member's clip trimmed
    val mod = graft.queries.Media.TrimSliceMod
    val docs = Tables.documents(spark, d).select(col("doc_id")).as[Long].collect()
      .filter(_ % mod == 0).toSet
    val planted = docs.filter(id => (id / mod) % 5 == 4 && docs.contains(id - mod))
      .map(id => (id - mod, id))
    val pairs = graft.queries.Catalog.queries("q174_audio_trim_neardup")(spark, d)
      .localCheckpoint(true)
    assert(pairs.filter(col("doc_id_a") >= col("doc_id_b")).count() === 0L)
    // 100% planted recall, each at mean_hamming 0 with a nonzero offset
    // (the trim is hop-aligned by construction)
    val found = pairs.select(col("doc_id_a"), col("doc_id_b"), col("offset"),
      col("mean_hamming")).as[(Long, Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    planted.foreach { case (a, b) =>
      val hit = found.get((a, b))
      assert(hit.isDefined, s"planted trim pair ($a, $b) not found")
      assert(hit.get._1 > 0 && hit.get._2 == 0.0,
        s"planted pair ($a, $b): offset/hamming ${hit.get} — expected exact shifted match")
    }
    // action: exact accounting over the SLICE (the q168/q170 contract)
    val action = graft.queries.Catalog.queries("q175_audio_trim_dedup_action")(spark, d)
      .localCheckpoint(true)
    assert(action.agg(sum(col("dup_count"))).as[Long].head() === docs.size.toLong)
    val kept = action.select(col("doc_id"))
    val bothKept = pairs
      .join(kept.toDF("doc_id_a"), Seq("doc_id_a"))
      .join(kept.toDF("doc_id_b"), Seq("doc_id_b"))
      .count()
    assert(bothKept === 0L, s"$bothKept pairs kept both endpoints")
  }

  private implicit class MapOps(rows: Array[(Long, Int, Int, Int)]) {
    def toMap3: Map[Long, (Int, Int, Int)] =
      rows.map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
  }
}

object MultimodalSpec {

  /** [[Multimodal.audioFp64]] forced through the javax.sound decode — the
    * reference its lock-free canonical-PCM16 parse must reproduce.
    */
  def audioFp64ViaJavaxSound(bytes: Array[Byte]): Long =
    Multimodal.viaJavaxSound(bytes)(Multimodal.envelopeFp64)
}
