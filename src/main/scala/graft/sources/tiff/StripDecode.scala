package graft.sources.tiff

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater

/** Chunk decode for the raster source's one pixel path (classic TIFF and
  * BigTIFF alike): window extraction over uncompressed strips (seek-only,
  * O(window) I/O), over compressed strips (each overlapping strip is
  * decompressed once, the predictor is undone, and only the window's
  * columns are kept), and over TILED layouts (the cloud-optimized-GeoTIFF
  * shape — same codecs, tile geometry, padded edge tiles).
  *
  * Memory posture: uncompressed reads hold O(window) bytes; compressed reads
  * hold O(strip + window) — GDAL writes small strips (commonly 1–16 rows), so
  * a task stays bounded by rowsPerStrip × width × bytesPerSample regardless
  * of raster size. A pathological whole-image single strip degrades to
  * O(image) for that one task; the typed require in [[TiffTags]] has already
  * admitted only layouts we can decode, so this is a documented cost, not a
  * correctness risk.
  *
  * Covers the layouts real large GeoTIFFs ship with (the reference's own
  * domain — e.g. WRI/Hansen forest-cover tiles are u8 DEFLATE PREDICTOR=2):
  * compression 1 (none), 8/32946 (zlib DEFLATE), 5 (LZW, MSB-first with the
  * TIFF early-change rule), 32773 (PackBits RLE — legacy tiles), 50000
  * (ZSTD — GDAL's modern COG default, decoded via the zstd-jni Spark itself
  * ships), 34925 (LZMA — libtiff/GDAL's COMPRESS=LZMA writes each chunk as
  * a complete .xz container stream; decoded via the org.tukaani.xz jar
  * Spark itself ships, with the header-less legacy .lzma "alone" layout
  * sniffed by the absence of the 6-byte xz magic), 7 (new-style JPEG per
  * TIFF TechNote 2 — abbreviated per-chunk streams merged with the shared
  * JPEGTables tag and decoded by the JDK's JPEG reader; 8-bit imagery
  * COGs), predictor 1 (none), 2 (horizontal differencing over integer
  * samples) and 3 (floating-point byte differencing — the GDAL PREDICTOR=3
  * layout float DEM/biomass COGs ship with).
  */
private[graft] object StripDecode {

  /** LZMA decoder memory ceiling in KiB (256 MiB): presets 0–9 need at
    * most a 64 MiB dictionary, so any chunk header demanding more is
    * corrupt or hostile and fails typed instead of allocating.
    */
  private val LzmaMemLimitKiB: Int = 1 << 18

  /** Byte-size of a window/chunk buffer, computed in Long and gated at the
    * JVM array limit: a whole-image single-strip TIFF (rowsPerStrip
    * defaults to the full height) or a wide multi-band chunk can push
    * rows × width × bytesPer × spp past Int.MaxValue, which bare Int
    * arithmetic turns into a NegativeArraySizeException instead of the
    * typed error this module promises.
    */
  private[graft] def checkedSize(path: String, what: String, n: Long): Int = {
    require(n > 0 && n <= Int.MaxValue,
      s"$path: $what of $n bytes exceeds the 2 GiB JVM buffer limit — " +
        "use a smaller maxBlockSize, or re-chunk the raster (smaller strips/tiles)")
    n.toInt
  }

  /** Window bytes from uncompressed strips: seek each window row inside its
    * strip and read exactly window.width samples (sample (row, col) lives at
    * stripOffsets(row / rowsPerStrip) + ((row % rowsPerStrip) * width + col)
    * * bytesPerSample).
    */
  def readRawWindow(meta: TiffTags.RasterMeta, window: TiffWindow, bytesPer: Int,
      plane: Int = -1): Array[Byte] = {
    val spp = if (plane >= 0) 1 else meta.samplesPerPixel
    val stripBase = if (plane >= 0) plane * stripsPerBand(meta) else 0
    val pixBytes = bytesPer * spp
    val rowBytes = window.width * pixBytes
    val raf = new RandomAccessFile(meta.path, "r")
    try {
      val arr = new Array[Byte](checkedSize(meta.path, "window buffer",
        rowBytes.toLong * window.height))
      var y = 0
      while (y < window.height) {
        val row = (window.rowOff + y).toLong
        val strip = (row / meta.rowsPerStrip).toInt
        val rowInStrip = row % meta.rowsPerStrip
        raf.seek(meta.stripOffsets(stripBase + strip) +
          (rowInStrip * meta.width + window.colOff) * pixBytes)
        raf.readFully(arr, y * rowBytes, rowBytes)
        y += 1
      }
      arr
    } finally raf.close()
  }

  /** Strips per band: the planar layout stores each band's strips
    * plane-major, so band b's strip s sits at index b * stripsPerBand + s.
    */
  private def stripsPerBand(meta: TiffTags.RasterMeta): Int =
    ((meta.height + meta.rowsPerStrip - 1) / meta.rowsPerStrip).toInt

  /** Window bytes from compressed strips: decompress every strip overlapping
    * the window's rows (each exactly once), undo the predictor at full strip
    * width, then copy the window's columns of the window's rows.
    */
  def readCompressedWindow(meta: TiffTags.RasterMeta, window: TiffWindow, bytesPer: Int,
      plane: Int = -1): Array[Byte] = {
    val spp = if (plane >= 0) 1 else meta.samplesPerPixel
    val stripBase = if (plane >= 0) plane * stripsPerBand(meta) else 0
    val pixBytes = bytesPer * spp
    val rowBytes = window.width * pixBytes
    val out = new Array[Byte](checkedSize(meta.path, "window buffer",
      rowBytes.toLong * window.height))
    val raf = new RandomAccessFile(meta.path, "r")
    try {
      val firstStrip = (window.rowOff.toLong / meta.rowsPerStrip).toInt
      val lastStrip = ((window.rowOff + window.height - 1).toLong / meta.rowsPerStrip).toInt
      var s = firstStrip
      while (s <= lastStrip) {
        val stripRow0 = s.toLong * meta.rowsPerStrip
        val rowsInStrip = math.min(meta.rowsPerStrip, meta.height - stripRow0).toInt
        val strip = decodeChunk(meta, raf, stripBase + s, rows = rowsInStrip,
          rowWidth = meta.width, bytesPer = bytesPer, tiled = false, spp = spp)
        // copy the intersection of this strip's rows with the window's rows
        val yLo = math.max(window.rowOff.toLong, stripRow0)
        val yHi = math.min((window.rowOff + window.height).toLong, stripRow0 + rowsInStrip)
        var y = yLo
        while (y < yHi) {
          val srcOff = ((y - stripRow0) * meta.width + window.colOff).toInt * pixBytes
          val dstOff = (y - window.rowOff).toInt * rowBytes
          System.arraycopy(strip, srcOff, out, dstOff, rowBytes)
          y += 1
        }
        s += 1
      }
      out
    } finally raf.close()
  }

  /** Window bytes from a TILED layout (the COG shape): decode every tile
    * intersecting the window (each exactly once) and copy the intersecting
    * runs. Edge tiles are PADDED to the full tile size in the file
    * (TIFF 6.0 §15 — unlike strips), so every tile decodes to exactly
    * tileWidth × tileLength samples and the predictor always runs at the
    * full tile width; the pad columns/rows are simply never copied.
    * Memory: O(tile + window) per task, the strip bound with the tile as
    * the chunk.
    */
  def readTiledWindow(meta: TiffTags.RasterMeta, window: TiffWindow, bytesPer: Int,
      plane: Int = -1): Array[Byte] = {
    val tw = meta.tileWidth
    val tl = meta.tileLength
    val tilesAcross = (meta.width + tw - 1) / tw
    val tilesDown = (meta.height + tl - 1) / tl
    val spp = if (plane >= 0) 1 else meta.samplesPerPixel
    val tileBase = if (plane >= 0) plane * tilesAcross * tilesDown else 0
    val pixBytes = bytesPer * spp
    val rowBytes = window.width * pixBytes
    val out = new Array[Byte](checkedSize(meta.path, "window buffer",
      rowBytes.toLong * window.height))
    val raf = new RandomAccessFile(meta.path, "r")
    try {
      val tc0 = window.colOff / tw
      val tc1 = (window.colOff + window.width - 1) / tw
      val tr0 = window.rowOff / tl
      val tr1 = (window.rowOff + window.height - 1) / tl
      var tr = tr0
      while (tr <= tr1) {
        var tc = tc0
        while (tc <= tc1) {
          val tile = decodeChunk(meta, raf, tileBase + tr * tilesAcross + tc,
            rows = tl, rowWidth = tw, bytesPer = bytesPer, tiled = true, spp = spp)
          val x0 = math.max(window.colOff, tc * tw)
          val x1 = math.min(window.colOff + window.width, (tc + 1) * tw)
          val y0 = math.max(window.rowOff, tr * tl)
          val y1 = math.min(window.rowOff + window.height, (tr + 1) * tl)
          val runBytes = (x1 - x0) * pixBytes
          var y = y0
          while (y < y1) {
            val srcOff = ((y - tr * tl) * tw + (x0 - tc * tw)) * pixBytes
            val dstOff = (y - window.rowOff) * rowBytes + (x0 - window.colOff) * pixBytes
            System.arraycopy(tile, srcOff, out, dstOff, runBytes)
            y += 1
          }
          tc += 1
        }
        tr += 1
      }
      out
    } finally raf.close()
  }

  /** One chunk (strip or tile), decompressed and predictor-undone, at its
    * full row width. Tiles always decode to the padded full tile size;
    * strips to rowsInStrip × imageWidth. `spp` is the samples-per-pixel OF
    * THE CHUNK: the file's samplesPerPixel for chunky layouts, 1 for a
    * planar plane (whose chunk index the caller has already offset by
    * plane × chunksPerBand) — it sizes the chunk and is the predictor
    * stride.
    */
  private def decodeChunk(
      meta: TiffTags.RasterMeta,
      raf: RandomAccessFile,
      chunkIdx: Int,
      rows: Int,
      rowWidth: Int,
      bytesPer: Int,
      tiled: Boolean,
      spp: Int): Array[Byte] = {
    val offsets = if (tiled) meta.tileOffsets else meta.stripOffsets
    val kind = if (tiled) "tile" else "strip"
    val expected = checkedSize(meta.path, s"$kind $chunkIdx decode buffer",
      rows.toLong * rowWidth * bytesPer * spp)
    val out = new Array[Byte](expected)
    if (meta.compression == 1) {
      raf.seek(offsets(chunkIdx))
      raf.readFully(out)
    } else {
      val counts = if (tiled) meta.tileByteCounts else meta.stripByteCounts
      val compLen = counts(chunkIdx)
      require(compLen > 0 && compLen <= Int.MaxValue,
        s"${meta.path}: $kind $chunkIdx has implausible byte count $compLen")
      val comp = new Array[Byte](compLen.toInt)
      raf.seek(offsets(chunkIdx))
      raf.readFully(comp)
      meta.compression match {
        case 8 | 32946 => // zlib DEFLATE ("Adobe" code 8 and the legacy 32946 are the same stream)
          val inf = new Inflater()
          try {
            inf.setInput(comp)
            var off = 0
            while (off < expected && !inf.finished()) {
              val n = inf.inflate(out, off, expected - off)
              if (n == 0 && inf.needsInput())
                throw new IllegalStateException(
                  s"${meta.path}: $kind $chunkIdx DEFLATE stream truncated at $off/$expected bytes")
              off += n
            }
            require(off == expected,
              s"${meta.path}: $kind $chunkIdx inflated to $off bytes, expected $expected")
          } finally inf.end()
        case 5 =>
          val n = TiffLzw.decode(comp, out)
          require(n == expected,
            s"${meta.path}: $kind $chunkIdx LZW-decoded to $n bytes, expected $expected")
        case 32773 =>
          val n = packBitsDecode(comp, out)
          require(n == expected,
            s"${meta.path}: $kind $chunkIdx PackBits-decoded to $n bytes, expected $expected")
        case 50000 => // ZSTD — GDAL's modern COG default; zstd-jni ships on Spark's classpath
          val n = com.github.luben.zstd.Zstd.decompressByteArray(
            out, 0, expected, comp, 0, comp.length)
          require(n == expected,
            s"${meta.path}: $kind $chunkIdx ZSTD-decoded to $n bytes, expected $expected")
        case 34925 => // LZMA — libtiff writes one .xz container stream per chunk
          val isXz = comp.length >= 6 && (comp(0) & 0xff) == 0xfd &&
            comp(1) == '7' && comp(2) == 'z' && comp(3) == 'X' &&
            comp(4) == 'Z' && comp(5) == 0
          val bis = new java.io.ByteArrayInputStream(comp)
          // the memlimit (KiB) bounds the decoder's dictionary allocation —
          // a corrupt header cannot demand gigabytes before failing; real
          // presets top out at a 64 MiB dictionary
          val in: java.io.InputStream =
            if (isXz) new org.tukaani.xz.XZInputStream(bis, LzmaMemLimitKiB)
            else new org.tukaani.xz.LZMAInputStream(bis, LzmaMemLimitKiB)
          try {
            var off = 0
            var n = 0
            while (off < expected &&
                { n = in.read(out, off, expected - off); n > 0 }) off += n
            require(off == expected && in.read() < 0,
              s"${meta.path}: $kind $chunkIdx LZMA-decoded to " +
                s"${if (off == expected) "more than " else ""}$off bytes, " +
                s"expected exactly $expected")
          } finally in.close()
        case 7 => // new-style JPEG (TIFF TechNote 2), decoded by the JDK's JPEG reader
          val stream: Array[Byte] =
            if (meta.jpegTables.isEmpty) comp
            else {
              // abbreviated chunk + shared JPEGTables: merged stream =
              // SOI + tables body (its SOI/EOI stripped) + chunk sans SOI.
              // TiffTags validated the tables' SOI…EOI envelope already.
              require(comp.length >= 2 &&
                  (comp(0) & 0xff) == 0xff && (comp(1) & 0xff) == 0xd8,
                s"${meta.path}: $kind $chunkIdx JPEG stream lacks an SOI marker")
              val t = meta.jpegTables.toArray // one unboxed copy, then block copies
              val merged = new Array[Byte](t.length - 4 + comp.length)
              merged(0) = 0xff.toByte
              merged(1) = 0xd8.toByte
              System.arraycopy(t, 2, merged, 2, t.length - 4)
              System.arraycopy(comp, 2, merged, t.length - 2, comp.length - 2)
              merged
            }
          // MemoryCacheImageInputStream, NOT ImageIO.read(InputStream): the
          // latter routes through the default disk-cache stream — one temp
          // file created and deleted PER CHUNK on the hot decode path —
          // when the bytes are already fully in memory
          val mis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(stream))
          // ImageIO.read(ImageInputStream) closes the stream itself (both
          // on success and failure) — closing again throws "closed"
          val img = javax.imageio.ImageIO.read(mis)
          require(img != null,
            s"${meta.path}: $kind $chunkIdx JPEG stream failed to decode")
          require(img.getWidth == rowWidth && img.getHeight == rows,
            s"${meta.path}: $kind $chunkIdx JPEG decodes to ${img.getWidth}x${img.getHeight}, " +
              s"chunk is ${rowWidth}x$rows")
          val ras = img.getRaster
          require(ras.getNumBands == spp,
            s"${meta.path}: $kind $chunkIdx JPEG has ${ras.getNumBands} bands, file declares $spp")
          var o = 0
          var y = 0
          while (y < rows) {
            var x = 0
            while (x < rowWidth) {
              var b = 0
              while (b < spp) { out(o) = ras.getSample(x, y, b).toByte; o += 1; b += 1 }
              x += 1
            }
            y += 1
          }
        case c =>
          throw new IllegalStateException(s"${meta.path}: unexpected compression $c in decodeChunk")
      }
    }
    if (meta.predictor == 2)
      unpredict(out, rows, rowWidth, bytesPer, meta.littleEndian, spp)
    else if (meta.predictor == 3)
      unpredictFloat(out, rows, rowWidth, bytesPer, meta.littleEndian, spp)
    out
  }

  /** TIFF PackBits (compression 32773, TIFF 6.0 §9 — the Macintosh RLE
    * scheme legacy tiles still ship with): control byte n as SIGNED —
    * 0..127 copies n+1 literal bytes, -1..-127 repeats the next byte 1-n
    * times, -128 is a no-op. Returns bytes produced; a packet that would
    * overrun `out` or a truncated literal run fails loudly.
    */
  private[graft] def packBitsDecode(in: Array[Byte], out: Array[Byte]): Int = {
    var ip = 0
    var op = 0
    while (ip < in.length && op < out.length) {
      val n = in(ip).toInt // signed
      ip += 1
      if (n >= 0) {
        val len = n + 1
        require(ip + len <= in.length, s"PackBits literal run truncated at $ip")
        require(op + len <= out.length, s"PackBits literal run overruns output at $op")
        System.arraycopy(in, ip, out, op, len)
        ip += len; op += len
      } else if (n != -128) {
        val len = 1 - n
        require(ip < in.length, s"PackBits repeat run missing byte at $ip")
        require(op + len <= out.length, s"PackBits repeat run overruns output at $op")
        java.util.Arrays.fill(out, op, op + len, in(ip))
        ip += 1; op += len
      } // -128: no-op per spec
    }
    op
  }

  /** Undo TIFF predictor 2 (horizontal differencing) in place: within each
    * row, each sample is stored as the delta from the SAME CHANNEL of the
    * pixel to its left (stride = samplesPerPixel in the chunky layout —
    * spp = 1 degenerates to the plain left neighbour), per sample width, in
    * the file's byte order. Integer samples only (float samples use
    * predictor 3 — [[unpredictFloat]]).
    */
  private def unpredict(arr: Array[Byte], rowsInStrip: Int, w: Int,
      bytesPer: Int, littleEndian: Boolean, spp: Int): Unit = {
    val rowSamples = w * spp
    bytesPer match {
      case 1 =>
        var r = 0
        while (r < rowsInStrip) {
          val base = r * rowSamples
          var x = spp
          while (x < rowSamples) { arr(base + x) = (arr(base + x) + arr(base + x - spp)).toByte; x += 1 }
          r += 1
        }
      case _ =>
        val bb = ByteBuffer.wrap(arr).order(
          if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
        val stride = spp * bytesPer
        var r = 0
        while (r < rowsInStrip) {
          val base = r * rowSamples * bytesPer
          var x = spp
          while (x < rowSamples) {
            val i = base + x * bytesPer
            if (bytesPer == 2) bb.putShort(i, (bb.getShort(i) + bb.getShort(i - stride)).toShort)
            else bb.putInt(i, bb.getInt(i) + bb.getInt(i - stride))
            x += 1
          }
          r += 1
        }
    }
  }

  /** Undo TIFF predictor 3 (floating-point horizontal differencing, TIFF
    * Technical Note 3 — what GDAL writes for Float32 rasters with
    * PREDICTOR=3, e.g. DEM/biomass COGs) in place. The on-disk row is the
    * samples' bytes SPLIT INTO PLANES most-significant byte first (plane
    * order is defined on the VALUE, independent of the file's byte-order
    * mark), then byte-differenced across the whole row with a stride of
    * samplesPerPixel bytes. Undo = cumulative byte sum at the same stride,
    * then re-interleave each sample's bytes in the FILE's byte order (the
    * order the window buffer is later read with). Implemented from the
    * published note; row width is the chunk's full row (image width for
    * strips, padded tile width for tiles), exactly like predictor 2.
    */
  private def unpredictFloat(arr: Array[Byte], rowsInStrip: Int, w: Int,
      bytesPer: Int, littleEndian: Boolean, spp: Int): Unit = {
    val wc = w * spp                 // samples per row
    val rowBytes = wc * bytesPer
    val tmp = new Array[Byte](rowBytes)
    var r = 0
    while (r < rowsInStrip) {
      val base = r * rowBytes
      var i = spp
      while (i < rowBytes) {
        arr(base + i) = (arr(base + i) + arr(base + i - spp)).toByte
        i += 1
      }
      System.arraycopy(arr, base, tmp, 0, rowBytes)
      var s = 0
      while (s < wc) {
        var b = 0
        while (b < bytesPer) {
          // plane b holds every sample's b-th most-significant byte
          val dst = if (littleEndian) bytesPer - 1 - b else b
          arr(base + s * bytesPer + dst) = tmp(b * wc + s)
          b += 1
        }
        s += 1
      }
      r += 1
    }
  }
}

/** TIFF-variant LZW decoder (TIFF 6.0 §13): 8-bit symbols, ClearCode 256,
  * EndOfInformation 257, first dictionary code 258, codes packed MSB-first,
  * code width 9→12 bits growing at 511/1023/2047 (the spec's "early change"
  * off-by-one, which every TIFF writer implements). Public algorithm —
  * implemented from the published spec, no code copied.
  */
private[graft] object TiffLzw {
  private final val Clear = 256
  private final val Eoi = 257

  /** Decode `in` into `out`; returns the number of bytes produced (decoding
    * stops at EOI, end of input bits, or a full `out`).
    */
  def decode(in: Array[Byte], out: Array[Byte]): Int = {
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258
    var codeBits = 9
    var bitPos = 0L
    val totalBits = in.length.toLong * 8
    var outPos = 0

    def readCode(): Int = {
      if (bitPos + codeBits > totalBits) return Eoi // tolerate writers that omit EOI
      val byteIdx = (bitPos >> 3).toInt
      var acc = 0L
      var i = 0
      while (i < 4) {
        acc = (acc << 8) | (if (byteIdx + i < in.length) in(byteIdx + i) & 0xffL else 0L)
        i += 1
      }
      val shift = 32 - (bitPos & 7).toInt - codeBits
      bitPos += codeBits
      ((acc >> shift) & ((1 << codeBits) - 1)).toInt
    }

    /** Emit the dictionary string for `code`; returns its first byte. */
    def emit(code: Int): Byte = {
      var sp = 0
      var c = code
      while (c >= 258) {
        stack(sp) = suffix(c); sp += 1; c = prefix(c)
      }
      require(c < 256, s"LZW stream references reserved code $c")
      val first = c.toByte
      require(outPos + 1 + sp <= out.length,
        s"LZW output overflow: have ${out.length}, writing past it at $outPos")
      out(outPos) = first; outPos += 1
      while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
      first
    }

    var old = -1
    var code = readCode()
    while (code != Eoi && outPos < out.length) {
      if (code == Clear) {
        next = 258; codeBits = 9
        code = readCode()
        if (code == Eoi) return outPos
        emit(code)
        old = code
      } else {
        require(code <= next, s"LZW code $code out of range (next=$next)")
        val first =
          if (code < next) emit(code)
          else { // KwKwK: string(old) + firstByte(string(old))
            val f = emit(old)
            require(outPos < out.length, "LZW output overflow in KwKwK case")
            out(outPos) = f; outPos += 1
            f
          }
        if (next < 4096) {
          prefix(next) = old; suffix(next) = first; next += 1
          if (next + 1 == (1 << codeBits) && codeBits < 12) codeBits += 1 // early change
        }
        old = code
      }
      code = readCode()
    }
    outPos
  }
}
