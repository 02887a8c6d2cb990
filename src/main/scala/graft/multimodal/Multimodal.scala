package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One media asset: an opaque binary payload plus typed metadata — the
  * engine's multimodal column model (north star: image/audio/video columns
  * in a training-data pipeline).
  */
final case class MediaRow(
    doc_id: Long,
    uri: String,
    bytes: Array[Byte],
    meta: Map[String, String])

/** Decoded media features (what a real image decode would produce). */
final case class DecodedMedia(
    doc_id: Long,
    uri: String,
    width: Int,
    height: Int,
    n_frames: Int,
    mean_byte: Double)

/** One sampled frame of a multi-frame (video-shaped) container: the
  * container's frame count plus the decoded features of THIS frame.
  */
final case class FrameFeatures(
    doc_id: Long,
    uri: String,
    n_frames: Int,
    frame_idx: Int,
    width: Int,
    height: Int,
    mean_byte: Double)

/** Multimodal column plumbing (schema, partition-preserving batched decode,
  * feature extraction): [[Multimodal.StubCodec]] is a deterministic fake
  * decoder used by the oracle-checked q38 (its output is a pure function
  * of the bytes, so DuckDB can reproduce it); the perceptual hashes and
  * [[Multimodal.frameFeatures]] decode real PNG, GIF and PCM16 WAV bytes
  * on the JDK's ImageIO and javax.sound, no external deps.
  *
  * Scale posture: media bytes stay opaque binary in the DataFrame (columnar
  * parquet/binaryFile storage, no driver materialization); decode runs via
  * `mapPartitions` so per-partition codec initialization is amortized across
  * the batch — the Scala analog of a Pandas-UDF `mapInPandas` batch — and
  * preserves partitioning (zero shuffle).
  */
object Multimodal {

  /** Keep ImageIO streams IN MEMORY (round 17, guide §1.1/§6): with the
    * default `useCache=true`, every `ImageIO.read(InputStream)` /
    * `createImageInput(Output)Stream` over an in-memory byte stream is
    * backed by a DISK cache file in java.io.tmpdir — one file create +
    * write + delete per decoded/encoded row. For this engine's media rows
    * the payloads are already whole byte arrays, so the spill file buys
    * nothing and costs two things, both measured on q95/q166: a per-row
    * disk round-trip (the dominant per-row cost for 8×8 thumbnails), and
    * 4-5× wall-clock oscillation whenever the backing disk is busy — the
    * CPU calibration probe stays nominal while codec queries quadruple,
    * exactly the disk-latency signature. Executor-JVM-global and
    * idempotent; called once per codec partition so cluster executors get
    * it too (local mode shares one JVM).
    */
  private[graft] def imageIoInMemory(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  /** ======= STUB ======= deterministic fake codec standing in for a real
    * video/audio decoder (this container ships no such codecs). "Header"
    * layout it pretends to parse: byte0→width, byte1→height, byte2→frame
    * count. Being a pure function of the bytes keeps q38 oracle-checkable.
    */
  object StubCodec {
    final class Handle // stands in for a real per-executor codec context

    def open(): Handle = new Handle

    def decode(h: Handle, bytes: Array[Byte]): (Int, Int, Int, Double) = {
      require(bytes.length >= 4, "truncated media header")
      val w = (bytes(0) & 0xff) % 128 + 1
      val ht = (bytes(1) & 0xff) % 128 + 1
      val fr = (bytes(2) & 0xff) % 8 + 1
      val mean = bytes.map(_ & 0xff).sum.toDouble / bytes.length
      (w, ht, fr, mean)
    }

    def openPartition(): Array[Byte] => (Int, Int, Int, Double) = {
      val h = open()
      bytes => decode(h, bytes)
    }
  }

  /** Synthesize a media column from the documents table: deterministic
    * 16-byte payload (md5 of the text), a uri, and typed metadata. In a real
    * pipeline this is `spark.read.format("binaryFile")` or a parquet table
    * with a binary column — the downstream plumbing is identical.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      struct(
        concat(lit("mem://"), col("source"), lit("/"), col("doc_id"), lit(".img")).as("uri"),
        unhex(md5(col("text"))).as("bytes"),
        map(
          lit("format"), lit("stub16"),
          lit("source"), col("source"),
          lit("lang"), col("lang")).as("meta")).as("media"))

  /** Batched, partition-preserving decode: one codec context per partition,
    * streamed over the rows — the Spark-idiomatic shape for expensive
    * per-row native decodes, here through the stub (q38's
    * oracle-checkable contract).
    */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val dec = StubCodec.openPartition() // once per partition
      it.map { m =>
        val (w, ht, fr, mean) = dec(m.bytes)
        DecodedMedia(m.doc_id, m.uri, w, ht, fr, mean)
      }
    }
  }

  /** Flatten the struct column into the typed Dataset the decoder consumes. */
  def toMediaRows(df: DataFrame): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(
      col("doc_id"),
      col("media.uri").as("uri"),
      col("media.bytes").as("bytes"),
      col("media.meta").as("meta")).as[MediaRow]
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint of a decodable
    * image: decode → 8×8 box-averaged luma grid → threshold each cell at
    * the grid mean. Box pooling is done by hand (NOT
    * `Image.getScaledInstance`, whose filtering is implementation-defined)
    * so the hash is bit-deterministic across JVMs. Hamming distance between
    * hashes approximates visual difference; ≤3 of 64 bits is a robust
    * near-duplicate signal for re-encoded/lightly-edited copies.
    *
    * Honest limitation (inherent to threshold hashes): images with a
    * near-uniform luma field hash toward all-zeros regardless of their
    * absolute brightness, so flat white and flat black collide. Production
    * stacks layer a DCT hash on top for those; the banding/scale shape
    * below is unchanged by the choice of per-image hash.
    */
  def aHash64(bytes: Array[Byte]): Long = {
    imageIoInMemory()
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "bytes are not a decodable image")
    aHash64Of(img)
  }

  /** [[aHash64]] of an already-decoded image — the per-frame unit the video
    * fingerprint path reuses (one container decode, many frame hashes).
    */
  def aHash64Of(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val cells = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8
        val x1 = math.max(x0 + 1, (gx + 1) * w / 8)
        val y0 = gy * h / 8
        val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
        var sum = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        cells(gy * 8 + gx) = sum / ((x1 - x0).toLong * (y1 - y0))
        gx += 1
      }
      gy += 1
    }
    val mean = cells.sum / 64
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Per-image perceptual hashes, batched per partition like [[decode]]
    * (the codec/decode cost is the expensive part; the 8×8 pooling is
    * noise). Returns (doc_id, ahash).
    */
  def imageHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => (m.doc_id, aHash64(m.bytes))))
      .toDF("doc_id", "ahash")
  }

  /** Sentinel `maxBucket` for the media near-dup families: derive the cap
    * from the measured fingerprint row count via
    * [[graft.operators.BandedSelfJoin.derivedCap]] (the rows/2^keyBits
    * rule) instead of a constant. Round 16 — the constant catalog default
    * (10000) was measured wrong twice (BASELINE rounds 14–15: 73.6 GB of
    * spill at 1M whole-clip fingerprints; q174's ~95 s sweep-1 build).
    */
  val DeriveCap: Int = -1

  /** Resolve a `maxBucket` argument: the [[DeriveCap]] sentinel computes
    * the data-derived cap from `rows` (the fingerprint/gram row count per
    * band) and the band key's width; 0 keeps the explicit-uncapped
    * semantics; positive values pass through. Callers count `rows` on an
    * ALREADY-MATERIALIZED frame so derivation never re-runs a decode.
    */
  private def resolveCap(maxBucket: Int, rows: => Long, keyBits: Int): Int =
    if (maxBucket == DeriveCap) graft.operators.BandedSelfJoin.derivedCap(rows, keyBits)
    else maxBucket

  /** Shared 64-bit-fingerprint banded pairing — the SimHash/MinHash scale
    * scaffold ([[graft.operators.BandedSelfJoin]]) applied to media
    * fingerprints: four 16-bit bands, candidates by (band, key) equi-join
    * (pigeonhole-complete for Hamming ≤ 3 — two hashes that disagree on ≤3
    * bits agree on ≥1 whole band), exact `bit_count(xor)` on candidates
    * only, and the mega-bucket cap bounds the degenerate buckets that flat
    * images / near-silent audio hash into. No all-pairs comparison exists
    * at any scale. `maxBucket = DeriveCap` materializes the hashes once
    * (localCheckpoint — eager, non-reliable; the videoNearDupPairs trade,
    * documented there) and derives the cap from their count; `repOverCap`
    * keeps over-cap buckets reachable through representative stars instead
    * of dropping them (recall preserved through the dedup action — the
    * template-corpus fix, measured at 1M in BASELINE).
    */
  private def bandedFpPairs(
      hashes: DataFrame, fpCol: String,
      maxHamming: Int, maxBucket: Int, repOverCap: Boolean,
      numReps: Int): DataFrame = {
    require(maxHamming < 4,
      "4 bands over 64 bits are only pigeonhole-complete for Hamming <= 3; " +
        "raise the band count to raise the threshold")
    val h = if (maxBucket == DeriveCap) hashes.localCheckpoint(true) else hashes
    val cap = resolveCap(maxBucket, h.count(), keyBits = 16)
    val keyed = h.select(
      col("doc_id").as("id"), col(fpCol),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col(fpCol), 16 * b)
            .bitwiseAND(lit(0xffffL)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col(fpCol),
        col("bk.band").as("band"), col("bk.key").as("key"))
    graft.operators.BandedSelfJoin.pairs(keyed, cap,
        repOverCap = repOverCap && cap > 0, numReps = numReps)
      .select(col(s"a.id").as("doc_id_a"), col(s"b.id").as("doc_id_b"),
        bit_count(col(s"a.$fpCol").bitwiseXOR(col(s"b.$fpCol"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Image near-duplicate pairs by banded perceptual hash — the multimodal
    * twin of the SimHash text path (see [[bandedFpPairs]] for the shape).
    */
  def imageNearDupPairs(
      media: Dataset[MediaRow], maxHamming: Int = 3,
      maxBucket: Int = DeriveCap, repOverCap: Boolean = true,
      numReps: Int = 1): DataFrame =
    bandedFpPairs(imageHashes(media), "ahash", maxHamming, maxBucket,
      repOverCap, numReps)

  /** 64-bit audio energy-envelope fingerprint — [[aHash64]]'s audio twin:
    * decode PCM16 (canonical little-endian RIFF/WAVE via a lock-free
    * direct parse — see [[parseCanonicalPcm16]] for why javax.sound is
    * only the fallback — anything else through JDK javax.sound), split
    * the sample stream into 64 equal time windows, mean |amplitude| per
    * window, threshold each at the global window mean. Both decode paths
    * produce the identical fingerprint; equality is property-pinned in
    * MultimodalSpec. Invariant to sample-rate
    * metadata and robust to small edits/noise; sensitive to the loudness
    * envelope, which is what near-duplicate re-encodes preserve. Same
    * honest limitation as flat images: near-silence (or any constant
    * envelope, e.g. an unmodulated pure tone) hashes toward all-zeros and
    * collides; the mega-bucket cap in the pairing bounds the blast radius.
    */
  def audioFp64(bytes: Array[Byte]): Long = withAbsSamples(bytes)(envelopeFp64)

  /** THE decode door: hands `f` an |sample| accessor + count from the
    * lock-free canonical parse, falling back to javax.sound for exotic
    * layouts — one decode per call site, shared by the whole-clip
    * fingerprint, the block envelope, and [[audioSubFps]] (which needs
    * BOTH on the short-clip path and must not decode twice; the javax
    * fallback holds a global lock, so a second decode would re-serialize
    * a 32-thread executor — the round-14 measurement).
    */
  private def withAbsSamples[T](bytes: Array[Byte])(f: (Int => Long, Int) => T): T =
    parseCanonicalPcm16(bytes) match {
      case Some(c) => f(s => {
        val idx = c.off + s * 2
        math.abs(((bytes(idx) & 0xff) | (bytes(idx + 1) << 8)).toShort.toLong)
      }, c.nSamples)
      case None => viaJavaxSound(bytes)(f)
    }

  /** (data offset, sample count) of a canonical little-endian PCM16
    * RIFF/WAVE payload — the lock-free FAST PATH for the overwhelmingly
    * common case. None → the caller falls back to javax.sound, which
    * either decodes the exotic layout (big-endian, extensible,
    * compressed) or errors loudly — so behavior on every input is
    * unchanged, only the canonical case gets cheap. The fallback is a
    * correctness door, not a throughput one: AudioSystem
    * .getAudioInputStream serializes under a global lock — measured
    * 181 µs/call single-threaded and ZERO speedup at 32 threads (138.7 s
    * for 640k calls), so a 1M-clip corpus paid ~220 s of effectively
    * single-core decode before this path existed (BASELINE round-14 row).
    */
  /** Canonical-PCM16 parse result: data offset and total sample count
    * (across channels — the flat interleaved stream the envelope folds
    * over).
    */
  private[graft] final case class CanonicalPcm16(off: Int, nSamples: Int)

  private[graft] def parseCanonicalPcm16(b: Array[Byte]): Option[CanonicalPcm16] = {
    def tag(i: Int, s: String): Boolean =
      b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
        b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte
    def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var pos = 12
    var fmtOk = false
    var channels = 0
    while (pos + 8 <= b.length) {
      val sz = u32(pos + 4)
      val body = pos + 8
      if (sz < 0 || sz > b.length - body) return None
      if (tag(pos, "fmt ")) {
        if (sz < 16) return None
        // audioFormat(2) channels(2) rate(4) byteRate(4) align(2) bits(2)
        fmtOk = u16(body) == 1 && u16(body + 14) == 16
        if (!fmtOk) return None // PCM16 only; everything else -> javax.sound
        channels = u16(body + 2)
        if (channels < 1) return None
        // Declared blockAlign must agree with the recomputed 2·channels.
        // The fast path derives frame size as 2·channels; OpenJDK's
        // WaveFileReader happens to recompute it the same way, but that is
        // an implementation detail, not the header contract — a malformed
        // file declaring e.g. blockAlign=4 for mono PCM16 goes to
        // javax.sound so the two derivations can never silently disagree
        // (round-14 ADVICE hardening).
        if (u16(body + 12) != 2 * channels) return None
        val r = u32(body + 4)
        if (r < 1 || r > Int.MaxValue) return None
      } else if (tag(pos, "data")) {
        if (!fmtOk) return None
        // FRAME-align like javax.sound does: a data chunk that is not a
        // multiple of blockAlign is truncated to whole frames (a stereo
        // chunk of 2002 bytes decodes 1000 samples, not 1001 — the
        // round-14 review's empirically-confirmed divergence), and a
        // sub-frame chunk (0 whole frames) falls back so the JDK path
        // raises its typed "empty audio data" error.
        val frames = (sz / (2L * channels)).toInt
        if (frames < 1) return None
        return Some(CanonicalPcm16(body, frames * channels))
      }
      pos = body + sz.toInt + (sz.toInt & 1) // RIFF chunks are word-aligned
    }
    None
  }

  /** THE single copy of the 64-cell envelope fold, parameterized on a
    * sample accessor so the lock-free fast path and the javax.sound
    * fallback share the math STRUCTURALLY (a windowing tweak cannot split
    * the fingerprint space between them) — the property test then checks
    * the decode, not two hand-kept copies.
    */
  private[graft] def envelopeFp64(absSample: Int => Long, n: Int): Long = {
    val cells = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val s0 = (i.toLong * n / 64).toInt
      val s1 = math.max(s0 + 1, ((i + 1).toLong * n / 64).toInt)
      var sum = 0L
      var s = s0
      while (s < s1) { sum += absSample(s); s += 1 }
      cells(i) = sum.toDouble / (s1 - s0)
      i += 1
    }
    bitsFromCells(cells, 0, 64)
  }

  /** The 64-bit envelope hash of `cells(off until off + 64)`: bit i set when
    * the cell exceeds the window mean — THE single copy of the bit rule,
    * shared by the whole-clip fingerprint and the trim-tolerant
    * sub-fingerprints so the two spaces cannot drift.
    */
  private def bitsFromCells(cells: Array[Double], off: Int, n: Int): Long = {
    var sum = 0.0
    var i = 0
    while (i < n) { sum += cells(off + i); i += 1 }
    val mean = sum / n
    var hash = 0L
    i = 0
    while (i < n) {
      if (cells(off + i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** javax.sound decode handing `f` an |sample| accessor + count — the
    * exotic-layout fallback door shared by the whole-clip fingerprint and
    * the block envelope (one decode body, two consumers).
    */
  private[graft] def viaJavaxSound[T](bytes: Array[Byte])(f: (Int => Long, Int) => T): T = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16,
        s"only signed PCM16 supported, got $fmt")
      val data = ais.readAllBytes()
      val n = data.length / 2
      require(n >= 1, "empty audio data")
      val bb = java.nio.ByteBuffer.wrap(data).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      f(s => math.abs(bb.getShort(s * 2).toLong), n)
    } finally ais.close()
  }

  /** Mean |amplitude| per FIXED-SIZE block of `blockSamples` samples (a
    * trailing partial block is dropped — fixed duration is what makes a
    * hop-aligned trim a pure SHIFT of the cell sequence).
    */
  private def blockCells(abs: Int => Long, n: Int, blockSamples: Int): Array[Double] = {
    val nBlocks = n / blockSamples
    val cells = new Array[Double](nBlocks)
    var j = 0
    while (j < nBlocks) {
      var sum = 0L
      var s = j * blockSamples
      val e = s + blockSamples
      while (s < e) { sum += abs(s); s += 1 }
      cells(j) = sum.toDouble / blockSamples
      j += 1
    }
    cells
  }

  /** Canonical PCM16 mono RIFF/WAVE (8000 Hz, 512 samples) whose 64
    * constant-amplitude envelope windows (× 8 samples each) align exactly
    * with [[audioFp64]]'s 64 envelope cells — window i's mean |amplitude|
    * is exactly `amps(i)`. The single source of truth for every synthetic
    * audio corpus (declared q169 render, 50k rehearsal), so the format
    * constants cannot drift between the query and its posture probe.
    */
  def envelopeWav(amps: Array[Short]): Array[Byte] = {
    require(amps.length == 64, s"need 64 window amplitudes, got ${amps.length}")
    pcm16Wav(Array.tabulate[Short](512)(s => amps(s / 8)))
  }

  /** Canonical PCM16 mono RIFF/WAVE (8000 Hz) of arbitrary sample content —
    * [[envelopeWav]]'s header math generalized (it delegates here, so the
    * two renders share one byte layout). The trim-tolerant family's corpus
    * and spec WAVs come from this.
    */
  def pcm16Wav(samples: Array[Short]): Array[Byte] = {
    val n = samples.length
    require(n >= 1, "need at least one sample")
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(n * 2)
    var i = 0
    while (i < n) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Per-clip audio fingerprints, batched per partition. (doc_id, afp). */
  def audioHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => (m.doc_id, audioFp64(m.bytes))))
      .toDF("doc_id", "afp")
  }

  /** Audio near-duplicate pairs by banded envelope fingerprint — same
    * (band, key) equi-join scale shape as [[imageNearDupPairs]].
    */
  def audioNearDupPairs(
      media: Dataset[MediaRow], maxHamming: Int = 3,
      maxBucket: Int = DeriveCap, repOverCap: Boolean = true,
      numReps: Int = 1): DataFrame =
    bandedFpPairs(audioHashes(media), "afp", maxHamming, maxBucket,
      repOverCap, numReps)

  /** TRIM-TOLERANT sub-fingerprints (round 15): [[audioFp64]] hashes the
    * whole clip's 64 scale-normalized envelope cells, so a trimmed/padded
    * near-dup — the commonest real audio edit — shifts every cell and
    * escapes. Here the envelope is computed over FIXED-duration blocks
    * ([[blockCells]]) and hashed over overlapping 64-block windows at
    * stride `hopBlocks`: `(doc_id, rank, sfp)`. A trim by a multiple of
    * `hopBlocks × blockSamples` samples is then a pure RANK SHIFT — the
    * interior sub-fingerprints are bit-identical; a non-hop-aligned trim
    * lands within the Hamming tolerance when the envelope is locally
    * smooth. Clips shorter than 64 blocks fall back to the whole-clip
    * fingerprint at rank 0 (trim tolerance needs at least one full
    * window; short clips still pair with near-identical short clips).
    * The bit rule is [[bitsFromCells]] — the SAME rule the whole-clip
    * fingerprint uses, one copy.
    */
  def audioSubFps(media: Dataset[MediaRow], blockSamples: Int = 1024,
      hopBlocks: Int = 16): DataFrame = {
    require(blockSamples >= 1, s"blockSamples must be >= 1, got $blockSamples")
    require(hopBlocks >= 1, s"hopBlocks must be >= 1, got $hopBlocks")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      // ONE decode per clip: the short-clip fallback computes the
      // whole-clip fingerprint from the same accessor instead of
      // re-decoding (round-15 review — the javax fallback's global lock
      // would otherwise be paid twice on short exotic-layout clips)
      withAbsSamples(m.bytes) { (abs, n) =>
        val nBlocks = n / blockSamples
        if (nBlocks < 64) Iterator.single((m.doc_id, 0, envelopeFp64(abs, n)))
        else {
          val cells = blockCells(abs, n, blockSamples)
          Iterator.tabulate((nBlocks - 64) / hopBlocks + 1)(j =>
            (m.doc_id, j, bitsFromCells(cells, j * hopBlocks, 64)))
        }
      }
    }).toDF("doc_id", "rank", "sfp")
  }

  /** Trim-robust audio near-duplicate pairs (VERDICT r14 task 4) — the
    * winnowed-substring idea ([[graft.operators.SubstringDedup]]'s q106
    * shape) applied to audio: candidates form when ANY sub-fingerprint
    * band collides CONTENT-keyed (no rank in the key — a trim shifts
    * ranks, so rank-keyed joins are exactly what misses it); each
    * candidate pair's MODAL rank offset (most collisions; ties toward the
    * smaller shift) is then verified by ONE offset-aligned equi-join:
    * mean per-rank Hamming ≤ `maxMeanHamming` over the aligned overlap,
    * which must cover ≥ `minCoverFrac` of the SHORTER side's ranks (a
    * trimmed clip is a subsequence, so the shorter side should be nearly
    * fully explained — the video path's floor is against the LONGER side
    * because its clips share a start; a trimmed clip does not).
    *
    * Output: (doc_id_a, doc_id_b, offset, mean_hamming, n_common) with
    * a < b; offset = rank_a − rank_b of the alignment.
    *
    * Scale shape: the same (band, key) equi-join scaffold as every other
    * near-dup family ([[graft.operators.BandedSelfJoin]], mega-bucket
    * capped, never all-pairs); sub-fps are ~n_blocks/hop rows per clip
    * (bounded, a few dozen for typical clips); the verify stage is one
    * equi-join on (doc, aligned rank) + one hash aggregate. The sub-fp
    * frame feeds the candidate AND both verify sides, so it is
    * localCheckpoint-materialized once — the videoNearDupPairs trade,
    * same cluster caveat documented there.
    */
  def audioNearDupPairsTrimTolerant(
      media: Dataset[MediaRow], blockSamples: Int = 1024, hopBlocks: Int = 16,
      maxMeanHamming: Double = 3.0, maxBucket: Int = DeriveCap,
      minCoverFrac: Double = 0.9, repOverCap: Boolean = true,
      numReps: Int = 1): DataFrame = {
    require(maxMeanHamming < 4,
      "the 4 composite bands pigeonhole two consecutive aligned ranks with " +
        "combined Hamming < 4; raise the band count to raise the threshold")
    require(minCoverFrac >= 0 && minCoverFrac <= 1,
      s"minCoverFrac must be in [0, 1], got $minCoverFrac")
    val sf = audioSubFps(media, blockSamples, hopBlocks).localCheckpoint(true)
    // CONSECUTIVE-RANK COMPOSITE band keys (the 50k rehearsal's scale
    // lesson, measured): sub-fingerprinting multiplies the row count by
    // ~ranks-per-clip, and at 2.45M rows a bare 16-bit band bucket holds
    // ~37 RANDOM entries — ~88M spurious candidate pairs, 70 GB of
    // aggregate spill, one 477 s straggler. Pairing each rank's band bits
    // with the NEXT rank's same-band bits widens the key to 32 bits
    // (random collisions ∝ n²/2³² ≈ thousands, not millions) while a
    // hop-aligned trim still matches exactly — its consecutive ranks are
    // bit-identical too. Candidate completeness contract (stated, weaker
    // than the verify threshold): a pair is guaranteed a candidate when
    // some two CONSECUTIVE aligned ranks have combined Hamming ≤ 3 (≤ 3
    // errors across 4 composite bands leave one band clean); real
    // near-dup audio with thin noise has many exact ranks, and exact
    // trims match everywhere. Single-rank clips (the short-clip fallback
    // space) compose with themselves, so identical shorts still pair.
    val leadW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("rank"))
    val nrW = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val grams = sf
      .withColumn("sfp_next", lead(col("sfp"), 1).over(leadW))
      .withColumn("nr", count(lit(1)).over(nrW))
      .filter(col("sfp_next").isNotNull || col("nr") === 1)
      .withColumn("sfp2", coalesce(col("sfp_next"), col("sfp")))
    val keyed = grams.select(
      col("doc_id").as("id"), col("rank"),
      // variant stratum for multi-rep stars: the FULL composite window
      // content behind the band key. Two rows share it iff their
      // (sfp, sfp2) windows are identical — i.e. they are the same
      // content variant at some alignment — which is exactly the
      // population a strict Hamming-0 rep edge can verify. See
      // BandedSelfJoin.pairs repStratCol (round 17).
      xxhash64(col("sfp"), col("sfp2")).as("strat"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          (shiftrightunsigned(col("sfp"), 16 * b).bitwiseAND(lit(0xffffL)) * 65536L +
            shiftrightunsigned(col("sfp2"), 16 * b).bitwiseAND(lit(0xffffL))).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("rank"), col("strat"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // sf is already materialized above, so the derive-mode count is a
    // cheap scan of checkpointed blocks, never a second decode; the gram
    // count per band is the sub-fp count minus the dropped tail ranks —
    // sf.count() is the (slightly conservative) bound the rule wants
    val cap = resolveCap(maxBucket, sf.count(), keyBits = 32)
    // numReps > 1 routes through the STRATIFIED star (one rep per EXACT
    // fingerprint-variant class, edges within class only — ~n edges
    // total): the id-stride form's R·n edges were measured unrunnable on
    // this corpus' 10⁵-row template buckets (R = 8 exhausted 80 GB of
    // shuffle disk twice), and its cross-variant probes are exactly the
    // edges the Hamming verify rejects anyway
    val best = graft.operators.BandedSelfJoin.pairs(keyed, cap,
        repOverCap = repOverCap && cap > 0, numReps = numReps,
        repStratCol = if (numReps > 1) Some("strat") else None)
      .select(col("a.id").as("doc_id_a"), col("b.id").as("doc_id_b"),
        (col("a.rank") - col("b.rank")).as("offset"))
      .groupBy(col("doc_id_a"), col("doc_id_b"), col("offset"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id_a"), col("doc_id_b"))
          .orderBy(col("n_hits").desc, abs(col("offset")).asc, col("offset").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id_a"), col("doc_id_b"), col("offset"))
    val fa = sf.toDF("doc_id_a", "rank_a", "h_a")
    val fb = sf.toDF("doc_id_b", "rank_b", "h_b")
    val cnt = sf.groupBy(col("doc_id")).agg(count(lit(1)).as("nr"))
    best.join(fa, Seq("doc_id_a"))
      .withColumn("rank_b", col("rank_a") - col("offset"))
      .join(fb, Seq("doc_id_b", "rank_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"), col("offset"))
      .agg(
        avg(bit_count(col("h_a").bitwiseXOR(col("h_b")))).as("mean_hamming"),
        count(lit(1)).as("n_common"))
      .join(cnt.toDF("doc_id_a", "nr_a"), "doc_id_a")
      .join(cnt.toDF("doc_id_b", "nr_b"), "doc_id_b")
      // >= with epsilon, not ceil — the videoNearDupPairs boundary rule
      .filter(col("mean_hamming") <= maxMeanHamming &&
        col("n_common").cast("double") >=
          lit(minCoverFrac) * least(col("nr_a"), col("nr_b")) - lit(1e-9))
      .select(col("doc_id_a"), col("doc_id_b"), col("offset"),
        col("mean_hamming"), col("n_common"))
  }

  /** Per-sampled-frame perceptual hashes of a multi-frame (video-shaped)
    * container: (doc_id, k, fhash) where k is the SAMPLE RANK (0, 1, 2, …
    * over the stride-sampled frames) — rank, not raw frame index, so two
    * videos sampled at the same stride align positionally. Container
    * opened once per row; only sampled frames decode ([[frameFeatures]]'s
    * cost shape).
    */
  def videoFrameHashes(media: Dataset[MediaRow], stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      sampledFrames(m, stride) { (img, _, k, _) => (m.doc_id, k, aHash64Of(img)) }
    }).toDF("doc_id", "k", "fhash")
  }

  /** Shared container-sampling scaffold for the video path: open the
    * container ONCE, scan the frame directory, decode only every
    * `stride`-th frame, and hand each decoded frame to `perFrame(img,
    * frameIdx, sampleRank, nFrames)`. [[frameFeatures]] and
    * [[videoFrameHashes]] are both thin bodies over this — swapping the
    * ImageIO reader lookup for a real video demuxer changes exactly one
    * place. Results are materialized inside the row scope (the reader and
    * stream close on exit; a lazy iterator escaping would read a dead
    * reader).
    */
  private def sampledFrames[T](m: MediaRow, stride: Int)(
      perFrame: (java.awt.image.BufferedImage, Int, Int, Int) => T): Vector[T] = {
    imageIoInMemory()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(m.bytes))
    var reader: javax.imageio.ImageReader = null
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"${m.uri}: bytes are not a decodable media container")
      reader = readers.next()
      reader.setInput(iis)
      val nFrames = reader.getNumImages(true)
      require(nFrames >= 1, s"${m.uri}: container holds no frames")
      (0 until nFrames by stride).zipWithIndex.map { case (f, k) =>
        perFrame(reader.read(f), f, k, nFrames)
      }.toVector
    } finally {
      if (reader != null) reader.dispose()
      iis.close()
    }
  }

  /** VIDEO near-duplicate pairs — the image/audio banded shape lifted to
    * frame SEQUENCES: candidates form when any sample rank's frame hashes
    * collide on a 16-bit band AT THE SAME RANK (the per-frame pigeonhole —
    * near-dup videos agree frame-by-frame, so some rank's hashes are
    * within Hamming 3 and share a band), then the verdict is the MEAN
    * per-frame Hamming over the ranks both videos have, ≤ `maxMeanHamming`,
    * AND the shared ranks must cover ≥ `minCommonFrac` of the LONGER
    * video's ranks (a 1-frame clip matching rank 0 is not a near-dup of a
    * 10-rank video; of the shorter side the overlap is vacuously 1 since
    * ranks are contiguous from 0).
    * The rank rides inside the join key (key = rank << 16 | band bits), so
    * the candidate stage is still one (band, key) equi-join through
    * [[graft.operators.BandedSelfJoin]] — bucket-capped, never all-pairs —
    * and the verify stage is one equi-join on (pair, rank) + one hash
    * aggregate. Same flat-field caveat as [[aHash64]], bounded by the cap.
    */
  def videoNearDupPairs(
      media: Dataset[MediaRow], stride: Int = 2,
      maxMeanHamming: Double = 3.0, maxBucket: Int = DeriveCap,
      minCommonFrac: Double = 0.5, repOverCap: Boolean = true,
      numReps: Int = 1): DataFrame = {
    // candidate completeness: mean ≤ t over the common ranks ⇒ some rank's
    // per-frame Hamming ≤ t, and 4 bands over 64 bits pigeonhole that rank
    // only for t < 4 — the same geometry bound bandedFpPairs enforces
    require(maxMeanHamming < 4,
      "4 bands over 64 bits are only pigeonhole-complete for mean Hamming < 4; " +
        "raise the band count to raise the threshold")
    require(minCommonFrac >= 0 && minCommonFrac <= 1,
      s"minCommonFrac must be in [0, 1], got $minCommonFrac")
    // the frame hashes feed the banded candidate join AND both sides of
    // the rank-aligned verify join — materialize the container decodes
    // once (the expensive part) instead of re-running them per consumer.
    // localCheckpoint is EAGER but NOT reliable: the materialized blocks
    // live on executors, so on a real cluster an executor loss after this
    // point fails the job (lineage is cut) instead of recomputing — the
    // same trade BandedSelfJoin's salted branch documents. On local[N]
    // (this build's mode) there is no executor churn; a production
    // deployment with preemptible/churning executors should swap this for
    // persist(MEMORY_AND_DISK) + count() (lineage kept, decode may rerun
    // on loss) or checkpoint() to reliable storage.
    val fh = videoFrameHashes(media, stride).localCheckpoint(true)
    // the band key carries the sample rank, so the collision space per
    // key is the per-RANK row count over 2^16: derive the cap from the
    // most populated rank (one tiny aggregate over the checkpointed
    // hashes; rank 0 in practice — every video has one)
    val cap = resolveCap(maxBucket, {
      val m = fh.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head()
      if (m.isNullAt(0)) 0L else m.getLong(0)
    }, keyBits = 16)
    val keyed = fh.select(
      col("doc_id").as("id"), col("k"), col("fhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          (col("k").cast("long") * 65536L +
            shiftrightunsigned(col("fhash"), 16 * b)
              .bitwiseAND(lit(0xffffL))).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = graft.operators.BandedSelfJoin.pairs(keyed, cap,
        repOverCap = repOverCap && cap > 0, numReps = numReps)
      .select(col("a.id").as("doc_id_a"), col("b.id").as("doc_id_b"))
      .distinct()
    val fa = fh.toDF("doc_id_a", "k", "h_a")
    val fb = fh.toDF("doc_id_b", "k", "h_b")
    // Overlap floor: sample ranks are contiguous from 0, so n_common =
    // min(n_a, n_b) — a fraction OF THE SHORTER video is vacuously 1.
    // The meaningful guard is against length asymmetry: a 1-rank clip
    // agreeing on its single shared rank must not be declared a near-dup
    // of a 10-rank video, so require n_common ≥ ceil(minCommonFrac ×
    // max(n_a, n_b)). Equal-length videos always pass (frac = 1).
    val cnt = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    cand.join(fa, "doc_id_a")
      .join(fb, Seq("doc_id_b", "k"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(
        avg(bit_count(col("h_a").bitwiseXOR(col("h_b")))).as("mean_hamming"),
        count(lit(1)).as("n_common"))
      .join(cnt.toDF("doc_id_a", "nf_a"), "doc_id_a")
      .join(cnt.toDF("doc_id_b", "nf_b"), "doc_id_b")
      // direct >= with a 1e-9 epsilon, NOT ceil: n_common is integral, so
      // n >= frac·max is the documented contract exactly — ceil of an
      // unsnapped IEEE product (0.1·30 = 3.0000000000000004 → 4) would
      // exclude pairs that meet the fraction on the boundary
      .filter(col("mean_hamming") <= maxMeanHamming &&
        col("n_common").cast("double") >=
          lit(minCommonFrac) * greatest(col("nf_a"), col("nf_b")) - lit(1e-9))
      .select(col("doc_id_a"), col("doc_id_b"), col("mean_hamming"), col("n_common"))
  }

  /** "Resize": emit target dims + scale factors (stub math, real plumbing). */
  def resizePlan(decoded: Dataset[DecodedMedia], maxSide: Int): DataFrame =
    decoded.toDF().select(
      col("doc_id"),
      col("width"), col("height"),
      least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height"))).as("scale"))
      .withColumn("out_w", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", ceil(col("height") * col("scale")).cast("int"))

  /** The VIDEO path run end to end on a real multi-frame container
    * (ImageIO's animated-GIF reader — the closest zero-dependency stand-in
    * for a video codec; the method is codec-agnostic: swap the reader
    * lookup for a real video demuxer and nothing else changes): per row,
    * the container is opened ONCE, the frame directory scanned for
    * `n_frames`, and ONLY every `stride`-th frame is decoded — a video
    * pipeline must never pay decode cost for frames it samples away —
    * each yielding (frame_idx, width, height, mean byte over RGB).
    *
    * Scale posture: `mapPartitions` (partition-preserving, zero shuffle);
    * bytes stay opaque binary until this operator; per-row output is
    * ceil(n_frames / stride) rows, so a stride of k cuts both decode CPU
    * and output volume by k.
    */
  def frameFeatures(media: Dataset[MediaRow], stride: Int): Dataset[FrameFeatures] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      sampledFrames(m, stride) { (img, f, _, nFrames) =>
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        FrameFeatures(m.doc_id, m.uri, nFrames, f, w, h,
          sum.toDouble / (w.toLong * h * 3))
      }
    })
  }
}
