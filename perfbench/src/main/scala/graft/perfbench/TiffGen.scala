package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Seeded GeoTIFF inputs for the raster workloads, written by hand so the
  * benchmark controls every layout byte: classic TIFF with uncompressed
  * strips (the reader's ImageIO path) and BigTIFF with DEFLATE tiles and
  * the floating-point predictor (the reader's own chunk decoder).
  *
  * The pixel functions are chosen so the expected answers follow from the
  * generator alone: the NoData mask is a linear congruence modulo 8 with an
  * odd column step, so on a width divisible by 8 every row holds exactly
  * `8 - q` valid pixels in 8, and every value is a small integer that f32
  * and int16 store exactly.
  */
object TiffGen {
  val NoData: Int = -9999
  val NoDataText: String = "-9999"

  /** One seeded pixel pattern. The same seed always yields the same pattern. */
  final case class Pattern(a: Int, b: Int, s: Int, q: Int, c1: Int, c2: Int, s2: Int,
      d1: Int, d2: Int, s3: Int) {
    /** True when mask pixel (c, r) holds NoData. */
    def masked(c: Int, r: Int): Boolean = Math.floorMod(c * a + r * b + s, 8) < q
    /** Mask value at a valid pixel: an integer in [1, 997]. */
    def value(c: Int, r: Int): Int = 1 + Math.floorMod(c * c1 + r * c2 + s2, 997)
    /** Secondary (int16) value: an integer in [-1000, 1000]. */
    def secondary(c: Int, r: Int): Int = Math.floorMod(c * d1 + r * d2 + s3, 2001) - 1000
    def maskSample(c: Int, r: Int): Double =
      if (masked(c, r)) NoData.toDouble else value(c, r).toDouble
  }

  object Pattern {
    /** The seed moves the NoData pixels and shifts the values. The NoData
      * share (q / 8 = 25 %) and the value gradients stay fixed, so every seed
      * asks for the same work, down to how well the tiles compress.
      */
    def fromSeed(seed: Long): Pattern = {
      val rnd = new java.util.SplittableRandom(seed)
      Pattern(a = 2 * rnd.nextInt(0, 4) + 1, b = rnd.nextInt(0, 8), s = rnd.nextInt(0, 8), q = 2,
        c1 = 7, c2 = 13, s2 = rnd.nextInt(0, 997), d1 = 3, d2 = 5, s3 = rnd.nextInt(0, 2001))
    }
  }

  sealed trait Dtype { def bits: Int; def format: Int }
  case object F32 extends Dtype { val bits = 32; val format = 3 }
  case object S16 extends Dtype { val bits = 16; val format = 2 }

  /** A north-up grid: `ps` CRS units per pixel, origin at the top-left corner. */
  final case class Grid(width: Int, height: Int, originX: Double, originY: Double, ps: Double,
      geoKeys: Seq[(Int, Int)])

  def wgs84: Seq[(Int, Int)] = Seq(1024 -> 2, 2048 -> 4326)
  def utmNorth(zone: Int): Seq[(Int, Int)] = Seq(1024 -> 1, 3072 -> (32600 + zone))

  /** Layout of one file. `tile` = 0 writes strips of `rowsPerStrip` rows. */
  final case class Layout(bigTiff: Boolean, tile: Int = 0, rowsPerStrip: Int = 16,
      deflate: Boolean = false, predictor: Int = 1)

  /** Writes `sample(c, r)` over `grid`. */
  def write(path: String, grid: Grid, dtype: Dtype, layout: Layout, noData: Option[String],
      sample: (Int, Int) => Double): Unit = {
    require(layout.predictor == 1 || (layout.predictor == 3 && dtype == F32),
      "predictor 3 needs float samples")
    val order = ByteOrder.LITTLE_ENDIAN
    val bytesPer = dtype.bits / 8
    val (cw, ch) =
      if (layout.tile > 0) (layout.tile, layout.tile) else (grid.width, layout.rowsPerStrip)
    val across = (grid.width + cw - 1) / cw
    val down = (grid.height + ch - 1) / ch
    def chunk(i: Int): Array[Byte] = {
      val c0 = (i % across) * cw
      val r0 = (i / across) * ch
      // strips stop at the last row; tiles are padded to full size
      val rows = if (layout.tile > 0) ch else math.min(ch, grid.height - r0)
      val buf = ByteBuffer.allocate(cw * rows * bytesPer).order(order)
      var r = 0
      while (r < rows) {
        var c = 0
        while (c < cw) {
          val (gc, gr) = (c0 + c, r0 + r)
          val v = if (gc < grid.width && gr < grid.height) sample(gc, gr) else 0.0
          if (dtype == F32) buf.putFloat(v.toFloat) else buf.putShort(v.toInt.toShort)
          c += 1
        }
        r += 1
      }
      val raw = buf.array()
      if (layout.predictor == 3) floatPredict(raw, rows, cw, bytesPer)
      if (layout.deflate) deflate(raw) else raw
    }
    val chunks = Array.tabulate(across * down)(chunk)

    val big = layout.bigTiff
    val offSize = if (big) 8 else 4
    val headerSize = if (big) 16 else 8
    val chunkOffsets = chunks.scanLeft(headerSize.toLong)(_ + _.length)
    val cur = chunkOffsets.last
    // out-of-line payloads, in file order after the pixel data
    val extra = new java.io.ByteArrayOutputStream()
    def outOfLine(bytes: Array[Byte]): Long = {
      val at = cur + extra.size()
      extra.write(bytes); if (extra.size() % 2 == 1) extra.write(0)
      at
    }
    def bytesOf(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(order); fill(b); b.array()
    }
    val offType = if (big) 16 else 4
    def offsetArray(xs: Seq[Long]): Array[Byte] =
      bytesOf(xs.length * offSize)(b => xs.foreach(x => if (big) b.putLong(x) else b.putInt(x.toInt)))
    val geoShorts = if (grid.geoKeys.isEmpty) Array.empty[Int]
      else Array(1, 1, 0, grid.geoKeys.length) ++ grid.geoKeys.flatMap { case (k, v) => Seq(k, 0, 1, v) }
    // (tag, type, count, payload bytes)
    val ents = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Array[Byte])]()
    def short1(v: Int) = bytesOf(2)(_.putShort(v.toShort))
    def long1(v: Int) = bytesOf(4)(_.putInt(v))
    ents += ((256, 4, 1L, long1(grid.width)))
    ents += ((257, 4, 1L, long1(grid.height)))
    ents += ((258, 3, 1L, short1(dtype.bits)))
    ents += ((259, 3, 1L, short1(if (layout.deflate) 8 else 1)))
    ents += ((262, 3, 1L, short1(1)))
    val offs = chunkOffsets.init.toSeq
    val counts = chunks.map(_.length.toLong).toSeq
    if (layout.tile == 0) ents += ((273, offType, offs.length.toLong, offsetArray(offs)))
    ents += ((277, 3, 1L, short1(1)))
    if (layout.tile == 0) {
      ents += ((278, 4, 1L, long1(ch)))
      ents += ((279, offType, counts.length.toLong, offsetArray(counts)))
    }
    ents += ((284, 3, 1L, short1(1)))
    if (layout.predictor != 1) ents += ((317, 3, 1L, short1(layout.predictor)))
    if (layout.tile > 0) {
      ents += ((322, 4, 1L, long1(cw)))
      ents += ((323, 4, 1L, long1(ch)))
      ents += ((324, offType, offs.length.toLong, offsetArray(offs)))
      ents += ((325, offType, counts.length.toLong, offsetArray(counts)))
    }
    ents += ((339, 3, 1L, short1(dtype.format)))
    ents += ((33550, 12, 3L, bytesOf(24)(b => Seq(grid.ps, grid.ps, 0.0).foreach(b.putDouble))))
    ents += ((33922, 12, 6L, bytesOf(48)(b =>
      Seq(0.0, 0.0, 0.0, grid.originX, grid.originY, 0.0).foreach(b.putDouble))))
    if (geoShorts.nonEmpty)
      ents += ((34735, 3, geoShorts.length.toLong,
        bytesOf(geoShorts.length * 2)(b => geoShorts.foreach(s => b.putShort(s.toShort)))))
    noData.foreach { nd =>
      val bs = nd.getBytes("US-ASCII") :+ 0.toByte
      ents += ((42113, 2, bs.length.toLong, bs))
    }
    // resolve out-of-line payloads, then lay out the IFD
    val resolved = ents.map { case (tag, tpe, n, payload) =>
      (tag, tpe, n, if (payload.length <= offSize) Left(payload) else Right(outOfLine(payload)))
    }
    val ifdOff = cur + extra.size()
    val entrySize = if (big) 20 else 12
    val ifd = ByteBuffer.allocate((if (big) 8 else 2) + resolved.length * entrySize + offSize)
      .order(order)
    if (big) ifd.putLong(resolved.length.toLong) else ifd.putShort(resolved.length.toShort)
    resolved.foreach { case (tag, tpe, n, v) =>
      ifd.putShort(tag.toShort).putShort(tpe.toShort)
      if (big) ifd.putLong(n) else ifd.putInt(n.toInt)
      val field = new Array[Byte](offSize)
      v match {
        case Left(inline) => System.arraycopy(inline, 0, field, 0, inline.length)
        case Right(at) =>
          val fb = ByteBuffer.wrap(field).order(order)
          if (big) fb.putLong(at) else fb.putInt(at.toInt)
      }
      ifd.put(field)
    }
    // next-IFD offset 0 is already zero
    val header = ByteBuffer.allocate(headerSize).order(order)
    header.put('I'.toByte).put('I'.toByte)
    if (big) header.putShort(43).putShort(8).putShort(0).putLong(ifdOff)
    else header.putShort(42).putInt(ifdOff.toInt)
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try {
      out.write(header.array())
      chunks.foreach(out.write)
      extra.writeTo(out)
      out.write(ifd.array())
    } finally out.close()
  }

  /** TIFF Technical Note 3 floating-point predictor, encode side: per row,
    * split each sample's bytes into planes, most significant first, then
    * difference the row byte-wise (one sample per pixel).
    */
  private def floatPredict(arr: Array[Byte], rows: Int, rowWidth: Int, bytesPer: Int): Unit = {
    val rowBytes = rowWidth * bytesPer
    val tmp = new Array[Byte](rowBytes)
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      System.arraycopy(arr, base, tmp, 0, rowBytes)
      var s = 0
      while (s < rowWidth) {
        var b = 0
        while (b < bytesPer) {
          // little-endian input: the value's most significant byte is last
          arr(base + b * rowWidth + s) = tmp(s * bytesPer + bytesPer - 1 - b)
          b += 1
        }
        s += 1
      }
      var i = rowBytes - 1
      while (i >= 1) { arr(base + i) = (arr(base + i) - arr(base + i - 1)).toByte; i -= 1 }
      r += 1
    }
  }

  private def deflate(arr: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    try {
      d.setInput(arr); d.finish()
      val out = new java.io.ByteArrayOutputStream(arr.length / 2)
      val tmp = new Array[Byte](65536)
      while (!d.finished()) { val n = d.deflate(tmp); out.write(tmp, 0, n) }
      out.toByteArray
    } finally d.end()
  }
}
