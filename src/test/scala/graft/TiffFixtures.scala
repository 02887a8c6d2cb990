package graft

import java.awt.Transparency
import java.awt.color.ColorSpace
import java.awt.image._
import java.io.File

import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
import javax.imageio.plugins.tiff.{TIFFDirectory, TIFFField, TIFFTag, TIFFTagSet}

/** Writes tiny deterministic GeoTIFF fixtures with the JDK ImageIO TIFF
  * plugin (FIXTURES.md §B): pixel data + ModelPixelScale/ModelTiepoint +
  * GDAL_NODATA private tags. Custom tags must be added through a registered
  * TIFFTagSet or the writer silently drops them.
  */
object TiffFixtures {
  sealed trait Dtype
  case object F32 extends Dtype
  case object U8 extends Dtype
  case object S16 extends Dtype

  /** GeoKeyDirectory (34735) payload from inline SHORT keys: the 4-short
    * header (version 1, revision 1.0, nKeys) followed by one
    * (keyId, tagLoc=0, count=1, value) quad per key — shared by the classic
    * and BigTIFF writers so the two fixtures cannot encode different
    * directory layouts.
    */
  def geoKeyShorts(geoKeys: Seq[(Int, Int)]): Array[Short] =
    if (geoKeys.isEmpty) Array.empty
    else (Array(1, 1, 0, geoKeys.length) ++
      geoKeys.flatMap { case (k, v) => Seq(k, 0, 1, v) }).map(_.toShort)

  /** Full interchange JPEG stream for one chunk's chunky u8 samples
    * (grayscale or RGB), via the JDK encoder at maximum quality.
    */
  def jpegEncode(samples: Array[Byte], w: Int, h: Int, spp: Int): Array[Byte] = {
    require(spp == 1 || spp == 3, s"JPEG fixture supports 1 or 3 bands, got $spp")
    val img =
      if (spp == 1) {
        val im = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        im.getRaster.setDataElements(0, 0, w, h, samples)
        im
      } else {
        val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var i = 0
        for (y <- 0 until h; x <- 0 until w) {
          im.setRGB(x, y, ((samples(i) & 0xff) << 16) |
            ((samples(i + 1) & 0xff) << 8) | (samples(i + 2) & 0xff))
          i += 3
        }
        im
      }
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      writer.write(null, new IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Split a full JPEG stream into (JPEGTables stream, abbreviated stream)
    * per TIFF TechNote 2: DQT/DHT segments move to the tables stream
    * (SOI + tables + EOI); everything else — SOF, SOS, entropy data — stays
    * in the abbreviated per-chunk stream. The reader's merge is the inverse.
    */
  def splitJpegTables(full: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require((full(0) & 0xff) == 0xff && (full(1) & 0xff) == 0xd8, "not a JPEG stream")
    val tables = new java.io.ByteArrayOutputStream()
    val rest = new java.io.ByteArrayOutputStream()
    tables.write(0xff); tables.write(0xd8)
    rest.write(0xff); rest.write(0xd8)
    var i = 2
    var done = false
    while (i < full.length && !done) {
      require((full(i) & 0xff) == 0xff, s"bad JPEG marker prefix at $i")
      val m = full(i + 1) & 0xff
      if (m == 0xda) { // SOS: scan data runs to EOI — all stays in the chunk
        rest.write(full, i, full.length - i)
        done = true
      } else {
        val len = (((full(i + 2) & 0xff) << 8) | (full(i + 3) & 0xff)) + 2
        if (m == 0xdb || m == 0xc4) tables.write(full, i, len)
        else rest.write(full, i, len)
        i += len
      }
    }
    tables.write(0xff); tables.write(0xd9)
    (tables.toByteArray, rest.toByteArray)
  }

  /** The writer's default param with explicit tiling (`tileSize` > 0, a
    * multiple of 16) and compression (a JDK type name such as "LZW",
    * "Deflate", "PackBits" or "JPEG"; null = none) when asked for.
    */
  private def writeParam(writer: javax.imageio.ImageWriter, tileSize: Int,
      compressionType: String): javax.imageio.ImageWriteParam = {
    val param = writer.getDefaultWriteParam
    if (tileSize > 0) {
      param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(tileSize, tileSize, 0, 0)
    }
    if (compressionType != null) {
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType(compressionType)
    }
    param
  }

  /** value(col, row) = sample; `originX/originY` = top-left corner geo
    * coords; `pixelSize` degrees per pixel (square, north-up).
    */
  def write(
      path: String,
      width: Int,
      height: Int,
      dtype: Dtype,
      value: (Int, Int) => Double,
      originX: Double,
      originY: Double,
      pixelSize: Double,
      noData: Option[String],
      tileSize: Int = 0,
      compressionType: String = null,
      // GeoKeyDirectory (34735) inline SHORT keys, e.g. Seq(1024 -> 2,
      // 2048 -> 4326) for geographic WGS84
      geoKeys: Seq[(Int, Int)] = Nil): String = {

    val (bufType, img) = dtype match {
      case F32 =>
        val sm = new BandedSampleModel(DataBuffer.TYPE_FLOAT, width, height, 1)
        val raster = Raster.createWritableRaster(sm, new DataBufferFloat(width * height), null)
        val cs = ColorSpace.getInstance(ColorSpace.CS_GRAY)
        val cm = new ComponentColorModel(cs, false, false, Transparency.OPAQUE, DataBuffer.TYPE_FLOAT)
        (DataBuffer.TYPE_FLOAT, new BufferedImage(cm, raster, false, null))
      case U8 =>
        (DataBuffer.TYPE_BYTE, new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY))
      case S16 =>
        val sm = new BandedSampleModel(DataBuffer.TYPE_SHORT, width, height, 1)
        val raster = Raster.createWritableRaster(sm, new DataBufferShort(width * height), null)
        val cs = ColorSpace.getInstance(ColorSpace.CS_GRAY)
        val cm = new ComponentColorModel(cs, false, false, Transparency.OPAQUE, DataBuffer.TYPE_SHORT)
        (DataBuffer.TYPE_SHORT, new BufferedImage(cm, raster, false, null))
    }
    val wr = img.getRaster
    for (r <- 0 until height; c <- 0 until width) {
      if (bufType == DataBuffer.TYPE_FLOAT) wr.setSample(c, r, 0, value(c, r).toFloat)
      else wr.setSample(c, r, 0, value(c, r).toInt)
    }

    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val f = new File(path)
    f.getParentFile.mkdirs()
    f.delete()
    val ios = ImageIO.createImageOutputStream(f)
    try {
      writer.setOutput(ios)
      val param = writeParam(writer, tileSize, compressionType)
      val meta = writer.getDefaultImageMetadata(ImageTypeSpecifier.createFromRenderedImage(img), param)
      val dir = TIFFDirectory.createFromMetadata(meta)

      val scaleTag = new TIFFTag("ModelPixelScale", 33550, 1 << TIFFTag.TIFF_DOUBLE)
      val tieTag = new TIFFTag("ModelTiepoint", 33922, 1 << TIFFTag.TIFF_DOUBLE)
      val geoKeyTag = new TIFFTag("GeoKeyDirectory", 34735, 1 << TIFFTag.TIFF_SHORT)
      val nodataTag = new TIFFTag("GDAL_NODATA", 42113, 1 << TIFFTag.TIFF_ASCII)
      val set = new TIFFTagSet(java.util.Arrays.asList(scaleTag, tieTag, geoKeyTag, nodataTag))
      dir.addTagSet(set)

      dir.addTIFFField(new TIFFField(scaleTag, TIFFTag.TIFF_DOUBLE, 3,
        Array[Double](pixelSize, pixelSize, 0.0)))
      dir.addTIFFField(new TIFFField(tieTag, TIFFTag.TIFF_DOUBLE, 6,
        Array[Double](0.0, 0.0, 0.0, originX, originY, 0.0)))
      if (geoKeys.nonEmpty) {
        // ImageIO carries TIFF_SHORT data as char[]
        val shorts: Array[Char] = geoKeyShorts(geoKeys).map(s => (s & 0xffff).toChar)
        dir.addTIFFField(new TIFFField(geoKeyTag, TIFFTag.TIFF_SHORT, shorts.length, shorts))
      }
      noData.foreach { nd =>
        dir.addTIFFField(new TIFFField(nodataTag, TIFFTag.TIFF_ASCII, 1, Array[String](nd)))
      }
      writer.write(null, new IIOImage(img, null, dir.getAsMetadata), param)
    } finally {
      ios.close()
      writer.dispose()
    }
    path
  }

  /** CLASSIC multi-page GeoTIFF with an overview pyramid, written through
    * ImageIO's sequence API: image 0 at full resolution carries the geo
    * tags; each further image is ceil-halved and carries none (the GDAL
    * convention — the reader inherits the grid). u8 samples;
    * `valueAt(level, c, r)` in level coordinates.
    */
  def writeClassicOverviews(
      path: String,
      width: Int,
      height: Int,
      valueAt: (Int, Int, Int) => Double,
      originX: Double,
      originY: Double,
      pixelSize: Double,
      noData: Option[String],
      levels: Int): String = {
    require(levels >= 1, "need at least one overview level")
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val f = new File(path)
    f.getParentFile.mkdirs()
    f.delete()
    val ios = ImageIO.createImageOutputStream(f)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (k <- 0 to levels) {
        val w = (width + (1 << k) - 1) >> k
        val h = (height + (1 << k) - 1) >> k
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        val wr = img.getRaster
        for (r <- 0 until h; c <- 0 until w) wr.setSample(c, r, 0, valueAt(k, c, r).toInt)
        val param = writer.getDefaultWriteParam
        val meta = writer.getDefaultImageMetadata(
          ImageTypeSpecifier.createFromRenderedImage(img), param)
        val dir = TIFFDirectory.createFromMetadata(meta)
        if (k == 0) {
          val scaleTag = new TIFFTag("ModelPixelScale", 33550, 1 << TIFFTag.TIFF_DOUBLE)
          val tieTag = new TIFFTag("ModelTiepoint", 33922, 1 << TIFFTag.TIFF_DOUBLE)
          val nodataTag = new TIFFTag("GDAL_NODATA", 42113, 1 << TIFFTag.TIFF_ASCII)
          val set = new TIFFTagSet(java.util.Arrays.asList(scaleTag, tieTag, nodataTag))
          dir.addTagSet(set)
          dir.addTIFFField(new TIFFField(scaleTag, TIFFTag.TIFF_DOUBLE, 3,
            Array[Double](pixelSize, pixelSize, 0.0)))
          dir.addTIFFField(new TIFFField(tieTag, TIFFTag.TIFF_DOUBLE, 6,
            Array[Double](0.0, 0.0, 0.0, originX, originY, 0.0)))
          noData.foreach { nd =>
            dir.addTIFFField(new TIFFField(nodataTag, TIFFTag.TIFF_ASCII, 1, Array[String](nd)))
          }
        }
        writer.writeToSequence(new IIOImage(img, null, dir.getAsMetadata), param)
      }
      writer.endWriteSequence()
    } finally {
      ios.close()
      writer.dispose()
    }
    path
  }

  /** 3-band RGB GeoTIFF (u8 per band) via ImageIO, with the same geo tags:
    * band values come from `value(band, c, r)` with band 1..3 = R,G,B.
    * Tiling and compression as in [[write]].
    */
  def writeRGB(
      path: String,
      width: Int,
      height: Int,
      value: (Int, Int, Int) => Int,
      originX: Double,
      originY: Double,
      pixelSize: Double,
      tileSize: Int = 0,
      compressionType: String = null): String = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    for (r <- 0 until height; c <- 0 until width) {
      val rgb = ((value(1, c, r) & 0xff) << 16) |
        ((value(2, c, r) & 0xff) << 8) | (value(3, c, r) & 0xff)
      img.setRGB(c, r, rgb)
    }
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val f = new File(path)
    f.getParentFile.mkdirs()
    f.delete()
    val ios = ImageIO.createImageOutputStream(f)
    try {
      writer.setOutput(ios)
      val param = writeParam(writer, tileSize, compressionType)
      val meta = writer.getDefaultImageMetadata(ImageTypeSpecifier.createFromRenderedImage(img), param)
      val dir = TIFFDirectory.createFromMetadata(meta)
      val scaleTag = new TIFFTag("ModelPixelScale", 33550, 1 << TIFFTag.TIFF_DOUBLE)
      val tieTag = new TIFFTag("ModelTiepoint", 33922, 1 << TIFFTag.TIFF_DOUBLE)
      val set = new TIFFTagSet(java.util.Arrays.asList(scaleTag, tieTag))
      dir.addTagSet(set)
      dir.addTIFFField(new TIFFField(scaleTag, TIFFTag.TIFF_DOUBLE, 3,
        Array[Double](pixelSize, pixelSize, 0.0)))
      dir.addTIFFField(new TIFFField(tieTag, TIFFTag.TIFF_DOUBLE, 6,
        Array[Double](0.0, 0.0, 0.0, originX, originY, 0.0)))
      writer.write(null, new IIOImage(img, null, dir.getAsMetadata), param)
    } finally {
      ios.close()
      writer.dispose()
    }
    path
  }

  /** TIFF Technical Note 3 floating-point predictor, ENCODE side (the
    * GDAL PREDICTOR=3 float layout): per row, split each sample's bytes
    * into planes most-significant byte first (plane order defined on the
    * VALUE, not the file byte order), then byte-difference the whole row at
    * a stride of `spp` bytes. The reader's StripDecode.unpredictFloat is
    * the inverse; GeoTiffSourceSpec pins this encoder byte-for-byte against
    * a hand-computed row so the pair cannot be wrong together.
    */
  private def fpDiffRows(arr: Array[Byte], rows: Int, rowWidth: Int,
      bytesPer: Int, littleEndian: Boolean, spp: Int): Unit = {
    val wc = rowWidth * spp
    val rowBytes = wc * bytesPer
    val tmp = new Array[Byte](rowBytes)
    for (r <- 0 until rows) {
      val base = r * rowBytes
      System.arraycopy(arr, base, tmp, 0, rowBytes)
      for (s <- 0 until wc; b <- 0 until bytesPer) {
        val src = if (littleEndian) bytesPer - 1 - b else b
        arr(base + b * wc + s) = tmp(s * bytesPer + src)
      }
      var i = rowBytes - 1
      while (i >= spp) {
        arr(base + i) = (arr(base + i) - arr(base + i - spp)).toByte
        i -= 1
      }
    }
  }

  /** Hand-written BigTIFF (magic 43, 8-byte offsets) — or, with
    * `classic`, a classic TIFF (magic 42) with the same chunks — carrying
    * the same GeoTIFF tags as [[write]]. ImageIO's TIFF writer can emit
    * neither BigTIFF nor ZSTD/LZMA/predictor-3 chunks, so the byte layout is
    * assembled directly — which doubles as documentation of what TiffTags
    * must parse. `rowsPerStrip <= 0` means one strip for the whole
    * image. Supports f32/u8/s16 samples, compression 1 (none), 8 (DEFLATE),
    * 5 (LZW via [[lzwEncode]]) or 32773 (PackBits via [[packBitsEncode]]),
    * predictor 2 (horizontal differencing,
    * integer dtypes only) and predictor 3 (floating-point differencing,
    * f32 only) — the layouts the engine's strip decoder claims.
    */
  def writeBigTiff(
      path: String,
      width: Int,
      height: Int,
      value: (Int, Int) => Double,
      originX: Double,
      originY: Double,
      pixelSize: Double,
      noData: Option[String],
      rowsPerStrip: Int = 0,
      bigEndian: Boolean = false,
      dtype: Dtype = F32,
      compression: Int = 1,
      predictor: Int = 1,
      spp: Int = 1,
      bandValue: (Int, Int, Int) => Double = null,
      planarOverride: Int = 0,
      planar: Boolean = false,
      // GeoKeyDirectory (34735) inline SHORT keys, e.g.
      // Seq(1024 -> 2, 2048 -> 4326) for geographic WGS84
      geoKeys: Seq[(Int, Int)] = Nil,
      // when non-null (16 doubles, row-major 4x4), tag 34264
      // ModelTransformation is written INSTEAD of the
      // ModelPixelScale/ModelTiepoint pair
      modelTransform: Array[Double] = null,
      // compression 34925 only: encode chunks in the header-less legacy
      // .lzma "alone" layout instead of the .xz container libtiff writes —
      // exercises the reader's format sniff
      lzmaAlone: Boolean = false,
      // classic TIFF header (magic 42, 4-byte offsets, 12-byte entries)
      // instead of BigTIFF: the same chunks under the other header width
      classic: Boolean = false): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val (bps, sampleFormat) = dtype match {
      case F32 => (32, 3)
      case U8 => (8, 1)
      case S16 => (16, 2)
    }
    require(predictor != 2 || dtype != F32, "predictor 2 requires integer samples")
    require(predictor != 3 || dtype == F32, "predictor 3 requires float samples")
    require(Set(1, 5, 8, 32773, 34925, 50000).contains(compression),
      s"fixture compression $compression unsupported")
    require(modelTransform == null || modelTransform.length == 16,
      "modelTransform must be a 16-double row-major 4x4 matrix")
    require(spp >= 1 && spp <= 4, "fixture spp must be 1..4 (per-band tags written inline)")
    require(spp == 1 || bandValue != null, "multi-band fixtures need bandValue(band, c, r)")
    val bytesPer = bps / 8
    val rps = if (rowsPerStrip <= 0) height else rowsPerStrip
    val nStrips = (height + rps - 1) / rps
    def sampleAt(b: Int, c: Int, r: Int): Double =
      if (spp == 1) value(c, r) else bandValue(b, c, r)

    // per-strip payloads: raw samples (chunky: bands adjacent per pixel;
    // planar: plane-major — all of band 0's strips, then band 1's...)
    // -> predictor differencing (stride = spp; 1 within a planar plane)
    // -> codec
    val nChunks = if (planar) spp * nStrips else nStrips
    val strips: Array[Array[Byte]] = Array.tabulate(nChunks) { idx =>
      val (bandSel, s) = if (planar) (idx / nStrips, idx % nStrips) else (-1, idx)
      val chunkSpp = if (planar) 1 else spp
      val rows = math.min(rps, height - s * rps)
      val raw = ByteBuffer.allocate(rows * width * bytesPer * chunkSpp).order(order)
      for (r <- s * rps until s * rps + rows; c <- 0 until width;
           b <- (if (planar) bandSel until bandSel + 1 else 0 until spp))
        dtype match {
          case F32 => raw.putFloat(sampleAt(b, c, r).toFloat)
          case U8 => raw.put((sampleAt(b, c, r).toInt & 0xff).toByte)
          case S16 => raw.putShort(sampleAt(b, c, r).toInt.toShort)
        }
      val arr = raw.array()
      if (predictor == 2) {
        val bb = ByteBuffer.wrap(arr).order(order)
        val rowSamples = width * chunkSpp
        val stride = chunkSpp * bytesPer
        for (r <- 0 until rows) {
          val base = r * rowSamples * bytesPer
          var x = rowSamples - 1
          while (x >= chunkSpp) {
            val i = base + x * bytesPer
            bytesPer match {
              case 1 => arr(i) = (arr(i) - arr(i - stride)).toByte
              case 2 => bb.putShort(i, (bb.getShort(i) - bb.getShort(i - stride)).toShort)
              case _ => bb.putInt(i, bb.getInt(i) - bb.getInt(i - stride))
            }
            x -= 1
          }
        }
      } else if (predictor == 3)
        fpDiffRows(arr, rows, width, bytesPer, order == ByteOrder.LITTLE_ENDIAN, chunkSpp)
      compression match {
        case 1 => arr
        case 8 =>
          val d = new java.util.zip.Deflater()
          try {
            d.setInput(arr); d.finish()
            val out = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](8192)
            while (!d.finished()) { val n = d.deflate(tmp); out.write(tmp, 0, n) }
            out.toByteArray
          } finally d.end()
        case 5 => lzwEncode(arr)
        case 32773 => packBitsEncode(arr)
        case 34925 => lzmaEncode(arr, alone = lzmaAlone)
        case 50000 => com.github.luben.zstd.Zstd.compress(arr)
      }
    }

    // classic: 8-byte header, 2-byte entry count, 12-byte entries with a
    // 4-byte value field, LONG (4) chunk offsets; BigTIFF: 16-byte header,
    // 8-byte count, 20-byte entries with an 8-byte field, LONG8 (16)
    val (headerSize, countSize, entrySize, valueField, offType) =
      if (classic) (8, 2, 12, 4, 4) else (16, 8, 20, 8, 16)
    val stripOff = new Array[Long](nChunks)
    var cur = headerSize.toLong
    for (s <- 0 until nChunks) { stripOff(s) = cur; cur += strips(s).length }
    val stripCnt = strips.map(_.length.toLong)
    def bytes(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(order); fill(b); b.array()
    }
    def shorts(vs: Seq[Int]) = bytes(2 * vs.length)(b => vs.foreach(v => b.putShort(v.toShort)))
    def long(v: Int) = bytes(4)(_.putInt(v))
    def offsets(vs: Seq[Long]) = bytes(vs.length * (if (classic) 4 else 8))(b =>
      vs.foreach(v => if (classic) b.putInt(v.toInt) else b.putLong(v)))
    def doubles(vs: Seq[Double]) = bytes(8 * vs.length)(b => vs.foreach(b.putDouble))
    val gkShorts: Array[Short] = geoKeyShorts(geoKeys)
    // (tag, type, count, value bytes), ascending by tag as TIFF requires
    val tags: Seq[(Int, Int, Long, Array[Byte])] = Seq(
      Some((256, 4, 1L, long(width))),                               // ImageWidth
      Some((257, 4, 1L, long(height))),                              // ImageLength
      Some((258, 3, spp.toLong, shorts(Seq.fill(spp)(bps)))),        // BitsPerSample (per band)
      Some((259, 3, 1L, shorts(Seq(compression)))),                  // Compression
      Some((273, offType, nChunks.toLong, offsets(stripOff.toSeq))), // StripOffsets
      Some((277, 3, 1L, shorts(Seq(spp)))),                          // SamplesPerPixel
      Some((278, 4, 1L, long(rps))),                                 // RowsPerStrip
      Some((279, offType, nChunks.toLong, offsets(stripCnt.toSeq))), // StripByteCounts
      if (spp > 1 || planarOverride > 0)                             // PlanarConfiguration
        Some((284, 3, 1L, shorts(Seq(
          if (planarOverride > 0) planarOverride else if (planar) 2 else 1))))
      else None,
      if (predictor != 1) Some((317, 3, 1L, shorts(Seq(predictor)))) else None, // Predictor
      Some((339, 3, spp.toLong, shorts(Seq.fill(spp)(sampleFormat)))), // SampleFormat (per band)
      if (modelTransform == null) Some((33550, 12, 3L,               // ModelPixelScale
        doubles(Seq(pixelSize, pixelSize, 0.0)))) else None,
      if (modelTransform == null) Some((33922, 12, 6L,               // ModelTiepoint
        doubles(Seq(0.0, 0.0, 0.0, originX, originY, 0.0)))) else None,
      if (modelTransform != null)                                    // ModelTransformation
        Some((34264, 12, 16L, doubles(modelTransform.toSeq))) else None,
      if (gkShorts.nonEmpty) Some((34735, 3, gkShorts.length.toLong, // GeoKeyDirectory
        shorts(gkShorts.toSeq.map(_ & 0xffff)))) else None,
      noData.map { nd =>                                             // GDAL_NODATA
        val b = nd.getBytes("US-ASCII") :+ 0.toByte
        (42113, 2, b.length.toLong, b)
      }).flatten
    // values wider than the entry's value field go out of line, after the
    // chunks; the IFD follows them
    val valueOff: Seq[Long] = tags.map { case (_, _, _, v) =>
      if (v.length <= valueField) 0L else { val at = cur; cur += v.length; at }
    }
    val ifdOff = cur
    val total = (ifdOff + countSize + tags.length * entrySize + (if (classic) 4 else 8)).toInt
    val buf = ByteBuffer.allocate(total).order(order)
    val bom = if (bigEndian) 'M'.toByte else 'I'.toByte
    buf.put(bom).put(bom)
    if (classic) buf.putShort(42).putInt(ifdOff.toInt)
    else buf.putShort(43).putShort(8).putShort(0).putLong(ifdOff)
    for (s <- 0 until nChunks) {
      buf.position(stripOff(s).toInt); buf.put(strips(s))
    }
    buf.position(ifdOff.toInt)
    if (classic) buf.putShort(tags.length.toShort) else buf.putLong(tags.length.toLong)
    // values that fit sit left-justified in the value field (first bytes
    // of the field in either byte order)
    for (((tag, tpe, count, v), at) <- tags.zip(valueOff)) {
      buf.putShort(tag.toShort).putShort(tpe.toShort)
      if (classic) buf.putInt(count.toInt) else buf.putLong(count)
      val field = buf.position()
      if (v.length <= valueField) buf.put(v)
      else {
        if (classic) buf.putInt(at.toInt) else buf.putLong(at)
        buf.position(at.toInt); buf.put(v)
      }
      buf.position(field + valueField)
    }
    // next-IFD terminator: the buffer's trailing zero bytes
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, buf.array())
    path
  }

  /** Where IFD0 and its entries sit in a classic or BigTIFF file:
    * `entry(tag)` is the entry's byte position; its count field starts 4
    * bytes in, its value field 8 (classic) or 12 (BigTIFF) bytes in.
    */
  final case class Ifd0(at: Int, bigTiff: Boolean, entry: Map[Int, Int]) {
    def countPos(tag: Int): Int = entry(tag) + 4
    def valuePos(tag: Int): Int = entry(tag) + (if (bigTiff) 12 else 8)
  }

  /** Copy the TIFF `src` to `dst` with `edit` applied to its bytes (the
    * buffer is in the file's byte order) — the way the specs forge
    * malformed or hostile headers from a valid fixture of either header
    * width.
    */
  def patchIfd0(src: String, dst: String)(edit: (java.nio.ByteBuffer, Ifd0) => Unit): String = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (bytes(0) == 'M') java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
    val big = bb.getShort(2) == 43
    val at = if (big) bb.getLong(8).toInt else bb.getInt(4)
    val n = if (big) bb.getLong(at).toInt else bb.getShort(at) & 0xffff
    val first = at + (if (big) 8 else 2)
    val entries = (0 until n).map { i =>
      val pos = first + i * (if (big) 20 else 12)
      (bb.getShort(pos) & 0xffff) -> pos
    }.toMap
    edit(bb, Ifd0(at, big, entries))
    java.nio.file.Files.write(java.nio.file.Paths.get(dst), bytes)
    dst
  }

  /** A [[patchIfd0]] edit that sets element `i` of the SHORT, LONG or
    * LONG8 array of IFD0's `tag` (inline or out of line) to `v` — how the
    * specs forge chunk offsets and byte counts.
    */
  def setChunk(tag: Int, i: Int, v: Long)(bb: java.nio.ByteBuffer, ifd: Ifd0): Unit = {
    val size = (bb.getShort(ifd.entry(tag) + 2) & 0xffff) match {
      case 3 => 2
      case 4 => 4
      case 16 => 8
      case t => throw new IllegalArgumentException(s"tag $tag has non-integer type $t")
    }
    val count = if (ifd.bigTiff) bb.getLong(ifd.countPos(tag)) else bb.getInt(ifd.countPos(tag)).toLong
    val at =
      if (count * size <= (if (ifd.bigTiff) 8 else 4)) ifd.valuePos(tag)
      else if (ifd.bigTiff) bb.getLong(ifd.valuePos(tag)).toInt
      else bb.getInt(ifd.valuePos(tag))
    size match {
      case 2 => bb.putShort(at + i * 2, v.toShort)
      case 4 => bb.putInt(at + i * 4, v.toInt)
      case _ => bb.putLong(at + i * 8, v)
    }
  }

  /** BigTIFF with an OVERVIEW PYRAMID (the COG IFD-chain shape): IFD0 at
    * full resolution carrying the geo/nodata tags, then `levels` reduced-
    * resolution IFDs chained behind it — each with NewSubfileType = 1,
    * ceil-halved dimensions per level and NO geo tags of its own (the GDAL
    * convention the reader's inheritance covers). `valueAt(level, c, r)`
    * supplies samples in LEVEL coordinates, so tests can give every level
    * distinct values and prove which IFD was read. Stripped layout,
    * uncompressed or DEFLATE, single band, little-endian.
    */
  def writeBigTiffOverviews(
      path: String,
      width: Int,
      height: Int,
      valueAt: (Int, Int, Int) => Double,
      originX: Double,
      originY: Double,
      pixelSize: Double,
      noData: Option[String],
      levels: Int,
      rowsPerStrip: Int = 0,
      dtype: Dtype = F32,
      compression: Int = 1,
      // when >= 1, that overview level carries ONLY a ModelPixelScale (no
      // tiepoint) — a malformed file the reader must reject, not silently
      // inherit past
      partialGeoLevel: Int = -1): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    require(levels >= 1, "need at least one overview level")
    require(Set(1, 8).contains(compression), "overview fixture supports none/DEFLATE")
    val order = ByteOrder.LITTLE_ENDIAN
    val (bps, sampleFormat) = dtype match {
      case F32 => (32, 3)
      case U8 => (8, 1)
      case S16 => (16, 2)
    }
    val bytesPer = bps / 8
    val ndBytes = noData.map(s => s.getBytes("US-ASCII") :+ 0.toByte)
    def deflate(arr: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(arr); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        while (!d.finished()) { val n = d.deflate(tmp); out.write(tmp, 0, n) }
        out.toByteArray
      } finally d.end()
    }

    final case class Lvl(w: Int, h: Int, rps: Int, strips: Array[Array[Byte]])
    val lvls = (0 to levels).map { k =>
      val w = (width + (1 << k) - 1) >> k
      val h = (height + (1 << k) - 1) >> k
      val rps = if (rowsPerStrip <= 0) h else math.min(rowsPerStrip, h)
      val nStrips = (h + rps - 1) / rps
      val strips = Array.tabulate(nStrips) { s =>
        val rows = math.min(rps, h - s * rps)
        val raw = ByteBuffer.allocate(rows * w * bytesPer).order(order)
        for (r <- s * rps until s * rps + rows; c <- 0 until w) dtype match {
          case F32 => raw.putFloat(valueAt(k, c, r).toFloat)
          case U8 => raw.put((valueAt(k, c, r).toInt & 0xff).toByte)
          case S16 => raw.putShort(valueAt(k, c, r).toInt.toShort)
        }
        if (compression == 8) deflate(raw.array()) else raw.array()
      }
      Lvl(w, h, rps, strips)
    }

    // first pass: lay out [pixels][payloads][IFD] per level, chain offsets
    var cur = 16L
    final case class Layout(stripOff: Array[Long], scaleOff: Long, tieOff: Long,
        ndOff: Long, soOff: Long, scOff: Long, ifdOff: Long, nTags: Int)
    val layouts = lvls.zipWithIndex.map { case (l, k) =>
      val stripOff = new Array[Long](l.strips.length)
      for (s <- l.strips.indices) { stripOff(s) = cur; cur += l.strips(s).length }
      val isFull = k == 0
      val isPartial = k == partialGeoLevel && k > 0
      val scaleOff = if (isFull || isPartial) { val o = cur; cur += 24; o } else 0L
      val tieOff = if (isFull) { val o = cur; cur += 48; o } else 0L
      val ndOff = if (isFull && ndBytes.exists(_.length > 8)) {
        val o = cur; cur += ndBytes.get.length; o
      } else 0L
      val multi = l.strips.length > 1
      val soOff = if (multi) { val o = cur; cur += l.strips.length * 8L; o } else 0L
      val scOff = if (multi) { val o = cur; cur += l.strips.length * 8L; o } else 0L
      val nTags = (if (isFull) 11 + (if (ndBytes.isDefined) 1 else 0)
        else 10 + (if (isPartial) 1 else 0))
      val ifdOff = cur
      cur += 8 + nTags * 20L + 8
      Layout(stripOff, scaleOff, tieOff, ndOff, soOff, scOff, ifdOff, nTags)
    }

    val buf = ByteBuffer.allocate(cur.toInt).order(order)
    buf.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0)
    buf.putLong(layouts(0).ifdOff)
    for (((l, lay), k) <- lvls.zip(layouts).zipWithIndex) {
      for (s <- l.strips.indices) {
        buf.position(lay.stripOff(s).toInt); buf.put(l.strips(s))
      }
      if (k == 0) {
        buf.position(lay.scaleOff.toInt)
        Seq(pixelSize, pixelSize, 0.0).foreach(buf.putDouble)
        buf.position(lay.tieOff.toInt)
        Seq(0.0, 0.0, 0.0, originX, originY, 0.0).foreach(buf.putDouble)
        ndBytes.foreach { b => if (b.length > 8) { buf.position(lay.ndOff.toInt); buf.put(b) } }
      } else if (k == partialGeoLevel) {
        buf.position(lay.scaleOff.toInt)
        Seq(pixelSize * 2, pixelSize * 2, 0.0).foreach(buf.putDouble)
      }
      if (l.strips.length > 1) {
        buf.position(lay.soOff.toInt); lay.stripOff.foreach(buf.putLong)
        buf.position(lay.scOff.toInt); l.strips.foreach(s => buf.putLong(s.length.toLong))
      }
      buf.position(lay.ifdOff.toInt)
      buf.putLong(lay.nTags.toLong)
      def entry(tag: Int, tpe: Int, count: Long)(writeVal: ByteBuffer => Unit): Unit = {
        buf.putShort(tag.toShort).putShort(tpe.toShort).putLong(count)
        val pos = buf.position()
        writeVal(buf)
        buf.position(pos + 8)
      }
      if (k > 0) entry(254, 4, 1)(_.putInt(1)) // NewSubfileType: reduced image
      entry(256, 4, 1)(_.putInt(l.w))
      entry(257, 4, 1)(_.putInt(l.h))
      entry(258, 3, 1)(_.putShort(bps.toShort))
      entry(259, 3, 1)(_.putShort(compression.toShort))
      entry(273, 16, l.strips.length.toLong)(b =>
        if (l.strips.length == 1) b.putLong(lay.stripOff(0)) else b.putLong(lay.soOff))
      entry(277, 3, 1)(_.putShort(1))
      entry(278, 4, 1)(_.putInt(l.rps))
      entry(279, 16, l.strips.length.toLong)(b =>
        if (l.strips.length == 1) b.putLong(l.strips(0).length.toLong) else b.putLong(lay.scOff))
      entry(339, 3, 1)(_.putShort(sampleFormat.toShort))
      if (k == 0) {
        entry(33550, 12, 3)(_.putLong(lay.scaleOff))
        entry(33922, 12, 6)(_.putLong(lay.tieOff))
        ndBytes.foreach { b =>
          entry(42113, 2, b.length.toLong)(bb =>
            if (b.length <= 8) bb.put(b) else bb.putLong(lay.ndOff))
        }
      } else if (k == partialGeoLevel)
        entry(33550, 12, 3)(_.putLong(lay.scaleOff)) // scale WITHOUT tiepoint
      buf.putLong(if (k < levels) layouts(k + 1).ifdOff else 0L) // chain
    }
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, buf.array())
    path
  }

  /** TILED BigTIFF writer (the cloud-optimized-GeoTIFF chunk shape): tags
    * 322/323/324/325 instead of the strip trio; edge tiles PADDED to the
    * full tile size with zero samples (TIFF 6.0 §15), predictor and codec
    * applied per tile at full tile width — exactly the layout the reader's
    * decodeChunk expects to undo.
    */
  def writeBigTiffTiled(
      path: String,
      width: Int,
      height: Int,
      value: (Int, Int) => Double,
      originX: Double,
      originY: Double,
      pixelSize: Double,
      noData: Option[String],
      tileWidth: Int,
      tileLength: Int,
      bigEndian: Boolean = false,
      dtype: Dtype = F32,
      compression: Int = 1,
      predictor: Int = 1,
      spp: Int = 1,
      bandValue: (Int, Int, Int) => Double = null,
      planar: Boolean = false,
      // compression 7 only: move DQT/DHT out of every chunk into one
      // shared JPEGTables (347) tag — the TechNote-2 layout GDAL writes
      jpegTablesShared: Boolean = false): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val (bps, sampleFormat) = dtype match {
      case F32 => (32, 3)
      case U8 => (8, 1)
      case S16 => (16, 2)
    }
    require(predictor != 2 || dtype != F32, "predictor 2 requires integer samples")
    require(predictor != 3 || dtype == F32, "predictor 3 requires float samples")
    require(Set(1, 5, 7, 8, 32773, 34925, 50000).contains(compression),
      s"fixture compression $compression unsupported")
    require(compression != 7 || (dtype == U8 && predictor == 1 && !planar),
      "JPEG fixture requires u8 chunky samples without a predictor")
    require(spp >= 1 && spp <= 4, "fixture spp must be 1..4 (per-band tags written inline)")
    require(spp == 1 || bandValue != null, "multi-band fixtures need bandValue(band, c, r)")
    val bytesPer = bps / 8
    val tilesAcross = (width + tileWidth - 1) / tileWidth
    val tilesDown = (height + tileLength - 1) / tileLength
    val nTilesGeo = tilesAcross * tilesDown
    // planar: plane-major tile order (all of band 0's tiles, then band 1's)
    val nTiles = if (planar) nTilesGeo * spp else nTilesGeo

    val tiles: Array[Array[Byte]] = Array.tabulate(nTiles) { t =>
      val (bandSel, tg) = if (planar) (t / nTilesGeo, t % nTilesGeo) else (-1, t)
      val chunkSpp = if (planar) 1 else spp
      val tc = tg % tilesAcross
      val tr = tg / tilesAcross
      val raw = ByteBuffer.allocate(tileWidth * tileLength * bytesPer * chunkSpp).order(order)
      for (r <- tr * tileLength until (tr + 1) * tileLength;
           c <- tc * tileWidth until (tc + 1) * tileWidth;
           b <- (if (planar) bandSel until bandSel + 1 else 0 until spp)) {
        // pad cells (outside the image) are zero samples
        val v =
          if (r >= height || c >= width) 0.0
          else if (spp == 1) value(c, r)
          else bandValue(b, c, r)
        dtype match {
          case F32 => raw.putFloat(v.toFloat)
          case U8 => raw.put((v.toInt & 0xff).toByte)
          case S16 => raw.putShort(v.toInt.toShort)
        }
      }
      val arr = raw.array()
      if (predictor == 2) {
        val bb = ByteBuffer.wrap(arr).order(order)
        val rowSamples = tileWidth * chunkSpp
        val stride = chunkSpp * bytesPer
        for (r <- 0 until tileLength) {
          val base = r * rowSamples * bytesPer
          var x = rowSamples - 1
          while (x >= chunkSpp) {
            val i = base + x * bytesPer
            bytesPer match {
              case 1 => arr(i) = (arr(i) - arr(i - stride)).toByte
              case 2 => bb.putShort(i, (bb.getShort(i) - bb.getShort(i - stride)).toShort)
              case _ => bb.putInt(i, bb.getInt(i) - bb.getInt(i - stride))
            }
            x -= 1
          }
        }
      } else if (predictor == 3)
        fpDiffRows(arr, tileLength, tileWidth, bytesPer,
          order == ByteOrder.LITTLE_ENDIAN, chunkSpp)
      compression match {
        case 1 => arr
        case 8 =>
          val d = new java.util.zip.Deflater()
          try {
            d.setInput(arr); d.finish()
            val out = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](8192)
            while (!d.finished()) { val n = d.deflate(tmp); out.write(tmp, 0, n) }
            out.toByteArray
          } finally d.end()
        case 5 => lzwEncode(arr)
        case 7 => jpegEncode(arr, tileWidth, tileLength, chunkSpp)
        case 32773 => packBitsEncode(arr)
        case 34925 => lzmaEncode(arr, alone = false)
        case 50000 => com.github.luben.zstd.Zstd.compress(arr)
      }
    }
    // TechNote-2 shared tables: every chunk's DQT/DHT are identical (same
    // writer, same params), so tile 0's extracted tables stand for all
    val (jtBytes, finalTiles) =
      if (compression == 7 && jpegTablesShared) {
        val splits = tiles.map(splitJpegTables)
        (splits(0)._1, splits.map(_._2))
      } else (Array.empty[Byte], tiles)

    val pixOff = 16L
    val tileOff = new Array[Long](nTiles)
    var cur = pixOff
    for (t <- 0 until nTiles) { tileOff(t) = cur; cur += finalTiles(t).length }
    val tileCnt = finalTiles.map(_.length.toLong)
    val scaleOff = cur; cur += 24
    val tieOff = cur; cur += 48
    val toOff = cur; if (nTiles > 1) cur += nTiles * 8L
    val tcOff = cur; if (nTiles > 1) cur += nTiles * 8L
    val jtOff = cur
    if (jtBytes.length > 8) cur += jtBytes.length
    val ndBytes = noData.map(s => s.getBytes("US-ASCII") :+ 0.toByte)
    val ndOff = cur
    ndBytes.foreach { b => if (b.length > 8) cur += b.length }
    val ifdOff = cur
    // 12 unconditional entries: 256,257,258,259,277,322,323,324,325,339,33550,33922
    val nTags = 12 + (if (ndBytes.isDefined) 1 else 0) + (if (predictor != 1) 1 else 0) +
      (if (spp > 1) 1 else 0) + (if (jtBytes.nonEmpty) 1 else 0)
    val total = (ifdOff + 8 + nTags * 20 + 8).toInt
    val buf = ByteBuffer.allocate(total).order(order)
    val bom = if (bigEndian) 'M'.toByte else 'I'.toByte
    buf.put(bom).put(bom).putShort(43).putShort(8).putShort(0).putLong(ifdOff)
    for (t <- 0 until nTiles) {
      buf.position(tileOff(t).toInt); buf.put(finalTiles(t))
    }
    if (jtBytes.length > 8) { buf.position(jtOff.toInt); buf.put(jtBytes) }
    buf.position(scaleOff.toInt)
    buf.putDouble(pixelSize).putDouble(pixelSize).putDouble(0.0)
    buf.position(tieOff.toInt)
    Seq(0.0, 0.0, 0.0, originX, originY, 0.0).foreach(buf.putDouble)
    if (nTiles > 1) {
      buf.position(toOff.toInt); tileOff.foreach(buf.putLong)
      buf.position(tcOff.toInt); tileCnt.foreach(buf.putLong)
    }
    ndBytes.foreach { b => if (b.length > 8) { buf.position(ndOff.toInt); buf.put(b) } }
    buf.position(ifdOff.toInt)
    buf.putLong(nTags.toLong)
    def entry(tag: Int, tpe: Int, count: Long)(writeVal: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putLong(count)
      val pos = buf.position()
      writeVal(buf)
      buf.position(pos + 8)
    }
    entry(256, 4, 1)(_.putInt(width))              // ImageWidth
    entry(257, 4, 1)(_.putInt(height))             // ImageLength
    entry(258, 3, spp.toLong)(b =>                 // BitsPerSample (per band)
      (0 until spp).foreach(_ => b.putShort(bps.toShort)))
    entry(259, 3, 1)(_.putShort(compression.toShort)) // Compression
    entry(277, 3, 1)(_.putShort(spp.toShort))      // SamplesPerPixel
    if (spp > 1)
      entry(284, 3, 1)(_.putShort(                 // PlanarConfiguration
        (if (planar) 2 else 1).toShort))
    if (predictor != 1)
      entry(317, 3, 1)(_.putShort(predictor.toShort)) // Predictor
    entry(322, 4, 1)(_.putInt(tileWidth))          // TileWidth
    entry(323, 4, 1)(_.putInt(tileLength))         // TileLength
    entry(324, 16, nTiles.toLong)(b =>             // TileOffsets (LONG8)
      if (nTiles == 1) b.putLong(tileOff(0)) else b.putLong(toOff))
    entry(325, 16, nTiles.toLong)(b =>             // TileByteCounts (LONG8)
      if (nTiles == 1) b.putLong(tileCnt(0)) else b.putLong(tcOff))
    entry(339, 3, spp.toLong)(b =>                 // SampleFormat (per band)
      (0 until spp).foreach(_ => b.putShort(sampleFormat.toShort)))
    if (jtBytes.nonEmpty)
      entry(347, 7, jtBytes.length.toLong)(b =>    // JPEGTables (UNDEFINED)
        if (jtBytes.length <= 8) b.put(jtBytes) else b.putLong(jtOff))
    entry(33550, 12, 3)(_.putLong(scaleOff))       // ModelPixelScale
    entry(33922, 12, 6)(_.putLong(tieOff))         // ModelTiepoint
    ndBytes.foreach { b =>
      entry(42113, 2, b.length.toLong)(bb =>       // GDAL_NODATA
        if (b.length <= 8) bb.put(b) else bb.putLong(ndOff))
    }
    buf.putLong(0L) // next-IFD terminator
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, buf.array())
    path
  }

  /** TIFF-variant LZW encoder for fixtures (TIFF 6.0 §13): MSB-first bit
    * packing, ClearCode 256 / EOI 257, code width 9→12. The width bump fires
    * one dictionary-add LATER than the decoder's (encoder's add-counter
    * leads the decoder's by exactly one at the same code index), which
    * realizes the spec's "early change" on the shared code boundary — the
    * GeoTiffSourceSpec cross-check against the JDK's independent LZW writer
    * pins the decoder side empirically.
    */
  /** TIFF 6.0 §9 PackBits encoder: repeat packets for runs of >= 2 equal
    * bytes (max 128), literal packets otherwise, breaking a literal when a
    * run of >= 3 begins (the spec's recommendation). The decoder side is
    * pinned against the spec's own worked example in GeoTiffSourceSpec, so
    * the pair cannot be mutually-inverse-but-wrong.
    */
  /** LZMA chunk payload for compression 34925: a complete .xz container
    * stream per chunk (check NONE — the layout libtiff's COMPRESS=LZMA
    * writes), or the legacy header-less .lzma "alone" stream when `alone`
    * (exercises the reader's magic sniff). Encoded with the org.tukaani.xz
    * jar from Spark's own classpath — a different codebase from nothing:
    * the reader uses the same jar, but the container formats are
    * public specs and the decoded bytes are asserted against DEFLATE
    * twins, so an encode/decode-inverse-but-wrong pair cannot pass.
    */
  def lzmaEncode(data: Array[Byte], alone: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(6)
    if (alone) {
      val out = new org.tukaani.xz.LZMAOutputStream(bos, opts, data.length.toLong)
      out.write(data); out.close()
    } else {
      val out = new org.tukaani.xz.XZOutputStream(bos, opts, org.tukaani.xz.XZ.CHECK_NONE)
      out.write(data); out.finish(); out.close()
    }
    bos.toByteArray
  }

  def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i)) run += 1
      if (run >= 2) {
        out.write(1 - run) // signed control: -(run-1)
        out.write(data(i))
        i += run
      } else {
        val start = i
        var j = i + 1
        def runLen(k: Int): Int = {
          var r = 1
          while (k + r < data.length && r < 3 && data(k + r) == data(k)) r += 1
          r
        }
        while (j < data.length && j - start < 128 && runLen(j) < 3) j += 1
        out.write(j - start - 1)
        out.write(data, start, j - start)
        i = j
      }
    }
    out.toByteArray
  }

  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](data.length)
    var cur = 0L
    var curBits = 0
    var codeBits = 9
    def write(code: Int): Unit = {
      cur = (cur << codeBits) | (code & ((1 << codeBits) - 1))
      curBits += codeBits
      while (curBits >= 8) { curBits -= 8; out += ((cur >>> curBits) & 0xff).toByte }
    }
    val dict = new java.util.HashMap[Long, Integer]()
    var next = 258
    write(256) // Clear
    var prefixCode = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (prefixCode < 0) prefixCode = b
      else {
        val key = (prefixCode.toLong << 8) | b
        val found = dict.get(key)
        if (found != null) prefixCode = found.intValue()
        else {
          write(prefixCode)
          dict.put(key, Integer.valueOf(next)); next += 1
          if (next == (1 << codeBits) && codeBits < 12) codeBits += 1
          if (next >= 4093) { // reset well before the 12-bit table edge
            write(256); dict.clear(); next = 258; codeBits = 9
          }
          prefixCode = b
        }
      }
      i += 1
    }
    if (prefixCode >= 0) write(prefixCode)
    write(257) // EOI
    if (curBits > 0) out += ((cur << (8 - curBits)) & 0xff).toByte
    out.toArray
  }
}
