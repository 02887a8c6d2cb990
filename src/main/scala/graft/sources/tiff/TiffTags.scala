package graft.sources.tiff

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal TIFF IFD tag scanner: reads the geometry, nodata and chunk
  * layout tags of one image of a GeoTIFF's IFD chain, and validates that
  * the layout is one the source's own chunk reader can decode.
  *
  * Covers classic TIFF (magic 42, 4-byte offsets) AND BigTIFF (magic 43,
  * 8-byte offsets) in both byte orders. BigTIFF matters at the posture this
  * engine claims: real-world global rasters exceed the 4 GiB classic-TIFF
  * limit routinely. Both header widths go through the same validation and
  * the same pixel path: the chunk layout tags — strips (273/278/279) OR
  * tiles (322/323/324/325, the cloud-optimized-GeoTIFF shape) — are read
  * and the source decodes chunks itself ([[GeoTiffPartitionReader]] via
  * [[StripDecode]]): uncompressed, DEFLATE, LZW, PackBits, ZSTD, LZMA and
  * new-style JPEG, with the horizontal-differencing or floating-point
  * predictor — the layouts GDAL writes for real rasters. Multi-band files
  * decode pixel-interleaved (chunky) or band-separate planes (planar);
  * unsupported layouts (other codecs, mixed-depth bands) are rejected at
  * planning with a typed error rather than garbage.
  *
  * Tag counts and offsets come from an untrusted file: every payload size
  * is computed in Long and bounded by the file length before anything is
  * allocated, so a hostile count fails with an IllegalArgumentException
  * instead of an OOM or an overflowed array size.
  *
  * Tags read:
  *   - 256/257 ImageWidth/ImageLength
  *   - 258 BitsPerSample, 339 SampleFormat (1=uint, 2=int, 3=float)
  *   - 259 Compression, 262 PhotometricInterpretation (JPEG only),
  *     277 SamplesPerPixel, 284 PlanarConfiguration, 317 Predictor
  *   - 273/278/279 StripOffsets/RowsPerStrip/StripByteCounts, or
  *     322/323/324/325 TileWidth/TileLength/TileOffsets/TileByteCounts
  *   - 347 JPEGTables (JPEG only)
  *   - 33550 ModelPixelScale (GeoTIFF: sx, sy, sz)
  *   - 33922 ModelTiepoint  (GeoTIFF: i, j, k, x, y, z)
  *   - 34264 ModelTransformation (GeoTIFF: row-major 4×4 affine — the FULL
  *     affine including rotation/shear terms is accepted since round 14;
  *     flipped axes stay typed-rejected; geodesic pixel AREA on rotated
  *     grids computes through the Jacobian generalization since round 15)
  *   - 34735 GeoKeyDirectory (GeoTIFF CRS keys: GTModelTypeGeoKey 1024
  *     decides whether coordinates are geographic lon/lat or projected
  *     eastings/northings; 2048/3072 carry the EPSG code)
  *   - 42113 GDAL_NODATA    (ASCII)
  *
  * Mirrors the metadata the reference obtains from rasterio.open —
  * raster2points/raster2points.py::raster2df (see SURVEY.md §1.1; anchors
  * unverified, reference mount empty).
  */
object TiffTags {
  final case class Entry(tag: Int, fieldType: Int, count: Long, valueOffset: Long, inline: Array[Byte])

  final case class RasterMeta(
      path: String,
      width: Int,
      height: Int,
      bitsPerSample: Int,
      sampleFormat: Int, // 1=unsigned int, 2=signed int, 3=float
      pixelScaleX: Double,
      pixelScaleY: Double, // positive magnitude from tag; applied as negative (north-up)
      originX: Double, // geo X of the raster's top-left corner
      originY: Double,
      noData: Option[Double],
      samplesPerPixel: Int = 1,
      // chunk decode layout; bigTiff records the header width (magic 43)
      // and littleEndian rides along so executors can decode without
      // re-reading the header.
      bigTiff: Boolean = false,
      littleEndian: Boolean = true,
      rowsPerStrip: Long = Long.MaxValue,
      // IndexedSeq, not Array: an Array field would silently break the
      // case class's generated equals/hashCode (reference equality)
      stripOffsets: IndexedSeq[Long] = Vector.empty,
      // 1=none, 5=LZW, 8/32946=DEFLATE; predictor 1=none, 2=horizontal
      // differencing. stripByteCounts is populated only when compressed
      // (uncompressed strip lengths are computable from the grid).
      compression: Int = 1,
      predictor: Int = 1,
      stripByteCounts: IndexedSeq[Long] = Vector.empty,
      // Tiled layout (COG — cloud-optimized GeoTIFF — is TILED + DEFLATE):
      // tileWidth > 0 means tiles, not strips; edge tiles are PADDED to the
      // full tile size in the file (TIFF 6.0 §15, unlike strips).
      tileWidth: Int = 0,
      tileLength: Int = 0,
      tileOffsets: IndexedSeq[Long] = Vector.empty,
      tileByteCounts: IndexedSeq[Long] = Vector.empty,
      // 1 = chunky (pixel-interleaved), 2 = planar (band-separate chunks,
      // the GDAL INTERLEAVE=BAND layout): in planar files each band's
      // chunks are stored plane-major (all of band 1's, then band 2's...)
      planarConfig: Int = 1,
      // this IFD's position in the chain (0 = full resolution, k = the
      // k-th overview); the chunk offsets above already point into it
      imageIndex: Int = 0,
      // GeoKeyDirectory (34735) CRS facts. crsModelType = GTModelTypeGeoKey
      // 1024 (1=projected, 2=geographic, 3=geocentric; 32767=user-defined);
      // None when the file carries no GeoKeyDirectory at all. epsg = the
      // GeographicTypeGeoKey (2048) for geographic files, the
      // ProjectedCSTypeGeoKey (3072) for projected ones, when present.
      crsModelType: Option[Int] = None,
      epsg: Option[Int] = None,
      // JPEGTables (347, TIFF TechNote 2): the shared quantization/Huffman
      // table stream (SOI…EOI) that abbreviated per-chunk JPEG streams
      // (compression 7) are merged with before decode. Empty = chunks are
      // full interchange streams.
      jpegTables: IndexedSeq[Byte] = Vector.empty,
      // Full-affine rotation/shear terms from ModelTransformation (34264):
      // rotX = m01 (geo-X change per ROW step), rotY = m10 (geo-Y change
      // per COL step). 0.0 for the axis-aligned pair/34264 shapes — in
      // that case every coordinate formula reduces bit-for-bit to the
      // historical separable form (x + 0.0 is exact in IEEE).
      rotX: Double = 0.0,
      rotY: Double = 0.0) {

    def tiled: Boolean = tileWidth > 0

    /** True when the file DECLARES a non-geographic model (a GeoKeyDirectory
      * with GTModelTypeGeoKey != geographic): its coordinates are then
      * eastings/northings in meters (or a geocentric/user-defined frame), so
      * the source must not name them lon/lat and geodesic area (which
      * assumes WGS84 degrees) must be typed-rejected. A file with NO
      * GeoKeyDirectory keeps the historical geographic assumption — the
      * reference consumed that era's lon/lat rasters, and the engine's
      * golden fixtures are pinned to it.
      */
    def nonGeographic: Boolean = crsModelType.exists(_ != 2)

    /** True when the grid carries rotation/shear terms (full-affine 34264):
      * coordinates are then functions of BOTH indices and the axis-aligned
      * shortcuts (separable window pruning, trapezoid pixel area) don't
      * apply.
      */
    def rotated: Boolean = rotX != 0.0 || rotY != 0.0

    /** Pixel-centroid geo-X of pixel (col, row) — the FULL affine
      * `x = ox + (col+½)·sx + (row+½)·rx`; rx = 0 on axis-aligned grids
      * reduces this exactly to the historical lon-of-col form.
      */
    def lonOf(col: Double, row: Double): Double =
      originX + (col + 0.5) * pixelScaleX + (row + 0.5) * rotX
    /** Pixel-centroid geo-Y of pixel (col, row) (north-up: decreases with
      * row; the rotation term adds the per-col drift on rotated grids).
      */
    def latOf(col: Double, row: Double): Double =
      originY + (col + 0.5) * rotY - (row + 0.5) * pixelScaleY

    /** Determinant of the 2×2 affine [sx rx; ry −sy] — nonzero for every
      * accepted grid (axis-aligned: −sx·sy < 0; rotated grids keep
      * |rot| < scale by the flipped-axes gate's practical regime).
      */
    def affineDet: Double = pixelScaleX * (-pixelScaleY) - rotX * rotY

    /** Fractional COLUMN index of geo point (gx, gy) under the full
      * inverse affine: `floor` of it is the cell containing the point.
      * THE single copy of the inverse — the coverage check, the
      * per-window secondary read planning, and the per-pixel
      * nearest-neighbor sampler all call this, so they cannot drift.
      */
    def fracColOf(gx: Double, gy: Double): Double =
      ((gx - originX) * (-pixelScaleY) - (gy - originY) * rotX) / affineDet

    /** Fractional ROW index of geo point (gx, gy) — see [[fracColOf]]. */
    def fracRowOf(gx: Double, gy: Double): Double =
      (pixelScaleX * (gy - originY) - rotY * (gx - originX)) / affineDet

    def sameGrid(other: RasterMeta, eps: Double = 1e-9): Boolean =
      width == other.width && height == other.height &&
        math.abs(pixelScaleX - other.pixelScaleX) < eps &&
        math.abs(pixelScaleY - other.pixelScaleY) < eps &&
        math.abs(originX - other.originX) < eps &&
        math.abs(originY - other.originY) < eps &&
        math.abs(rotX - other.rotX) < eps &&
        math.abs(rotY - other.rotY) < eps
  }

  private val TypeSizes = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8, 6 -> 1,
    7 -> 1, 8 -> 2, 9 -> 4, 10 -> 8, 11 -> 4, 12 -> 8, 13 -> 4,
    16 -> 8, 17 -> 8, 18 -> 8)

  def read(path: String): RasterMeta = readOverview(path, 0)

  /** Read the `overview`-th image of the file's IFD chain (0 = the
    * full-resolution IFD0; k >= 1 = the k-th reduced-resolution overview —
    * the pyramid a cloud-optimized GeoTIFF carries so consumers can scan at
    * a coarser zoom without reading full-res data). Per GDAL convention,
    * overview IFDs carry no geo tags of their own: the grid is INHERITED
    * from IFD0 — same top-left origin, pixel scale multiplied by the
    * decimation factor (fullWidth / overviewWidth per axis, which keeps the
    * geographic extent of the raster identical at every level even when the
    * reduced dimensions are rounded). An overview that does carry its own
    * ModelPixelScale/ModelTiepoint keeps them. NoData likewise inherits
    * from IFD0 unless overridden. Works for classic TIFF and BigTIFF alike:
    * the chunk reader uses the selected IFD's offsets directly.
    */
  def readOverview(path: String, overview: Int): RasterMeta = {
    require(overview >= 0, s"$path: overview must be >= 0, got $overview")
    val raf = new RandomAccessFile(path, "r")
    try {
      val head = new Array[Byte](16)
      raf.seek(0)
      // readFully, not read(): a short read would leave zeroed bytes that
      // parse as a (bogus) header. Classic needs 8 bytes; BigTIFF 16.
      raf.readFully(head, 0, 8)
      val order = (head(0), head(1)) match {
        case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
        case ('M', 'M') => ByteOrder.BIG_ENDIAN
        case _ => throw new IllegalArgumentException(s"$path: not a TIFF (bad byte-order mark)")
      }
      val hb = ByteBuffer.wrap(head).order(order)
      val magic = hb.getShort(2) & 0xffff
      val bigTiff = magic match {
        case 42 => false
        case 43 =>
          raf.readFully(head, 8, 8) // rest of the 16-byte BigTIFF header
          val offSize = hb.getShort(4) & 0xffff
          val pad = hb.getShort(6) & 0xffff
          require(offSize == 8 && pad == 0,
            s"$path: malformed BigTIFF header (offset size $offSize, pad $pad)")
          true
        case _ => throw new IllegalArgumentException(s"$path: not a TIFF (magic=$magic)")
      }
      val ifdOffset = if (bigTiff) hb.getLong(8) else hb.getInt(4).toLong & 0xffffffffL
      // classic: 2-byte entry count, 12-byte entries, 4-byte value field
      // BigTIFF: 8-byte entry count, 20-byte entries, 8-byte value field
      val (countSize, entrySize, valueFieldSize, valueFieldOff) =
        if (bigTiff) (8, 20, 8, 12) else (2, 12, 4, 8)

      /** Entries of the IFD at `at`, plus the next-IFD offset (0 = end). */
      def parseEntries(at: Long): (Map[Int, Entry], Long) = {
        require(at >= 0 && at + countSize <= raf.length(),
          s"$path: IFD offset $at lies outside the ${raf.length()}-byte file")
        raf.seek(at)
        val cntBuf = new Array[Byte](countSize)
        raf.readFully(cntBuf)
        val cb = ByteBuffer.wrap(cntBuf).order(order)
        val nLong = if (bigTiff) cb.getLong(0) else (cb.getShort(0) & 0xffff).toLong
        // the entry count is untrusted: bound the entries' bytes by the file
        // before allocating (n * entrySize in Int would wrap negative)
        require(nLong >= 0 && nLong <= (raf.length() - at - countSize) / entrySize,
          s"$path: IFD at $at declares $nLong entries, more than the " +
            s"${raf.length()}-byte file can hold")
        val n = nLong.toInt
        val nextPtrSize = if (bigTiff) 8 else 4
        // tolerate files truncated right after the last entry (accepted
        // before the chain walk existed): a missing next pointer reads as 0
        val truncated = at + countSize + n.toLong * entrySize + nextPtrSize > raf.length()
        val entriesRaw = new Array[Byte](n * entrySize + (if (truncated) 0 else nextPtrSize))
        raf.readFully(entriesRaw)
        val eb = ByteBuffer.wrap(entriesRaw).order(order)
        val es = (0 until n).map { i =>
          val off = i * entrySize
          val tag = eb.getShort(off) & 0xffff
          val tpe = eb.getShort(off + 2) & 0xffff
          val count =
            if (bigTiff) eb.getLong(off + 4)
            else eb.getInt(off + 4).toLong & 0xffffffffL
          val inline = new Array[Byte](valueFieldSize)
          eb.position(off + valueFieldOff); eb.get(inline); eb.position(0)
          val ib = ByteBuffer.wrap(inline).order(order)
          val valueOffset = if (bigTiff) ib.getLong(0) else ib.getInt(0).toLong & 0xffffffffL
          Entry(tag, tpe, count, valueOffset, inline)
        }.map(e => e.tag -> e).toMap
        val nextOff =
          if (truncated) 0L
          else if (bigTiff) eb.getLong(n * entrySize)
          else eb.getInt(n * entrySize).toLong & 0xffffffffL
        (es, nextOff)
      }

      val (entries0, next0) = parseEntries(ifdOffset)
      // walk the chain to the requested image; IFD0's geo/extent is kept
      // for overview inheritance
      var entriesK = entries0
      var nextK = next0
      var level = 0
      while (level < overview) {
        require(nextK != 0L,
          s"$path: overview $overview requested but the IFD chain has only " +
            s"${level + 1} image(s)")
        val r = parseEntries(nextK)
        entriesK = r._1; nextK = r._2
        level += 1
      }
      val entries = entriesK

      /** The entry's value bytes, inline or at its offset. The count is
        * untrusted: the size is computed in Long and bounded by the file
        * before allocating, so every caller may narrow `e.count` to Int
        * once this returned.
        */
      def payload(e: Entry): ByteBuffer = {
        val size = TypeSizes.getOrElse(e.fieldType, 1).toLong * e.count
        require(e.count >= 0 && e.count <= raf.length() && size <= Int.MaxValue &&
            (size <= valueFieldSize ||
              (e.valueOffset >= 0 && e.valueOffset <= raf.length() - size)),
          s"$path: tag ${e.tag} declares ${e.count} values ($size bytes at offset " +
            s"${e.valueOffset}), more than the ${raf.length()}-byte file holds")
        if (size <= valueFieldSize) ByteBuffer.wrap(e.inline).order(order)
        else {
          val buf = new Array[Byte](size.toInt)
          raf.seek(e.valueOffset)
          raf.readFully(buf)
          ByteBuffer.wrap(buf).order(order)
        }
      }

      /** One integer value of SHORT(3)/LONG(4)/LONG8(16) type at index i. */
      def intAt(e: Entry, b: ByteBuffer, i: Int): Long = e.fieldType match {
        case 3 => (b.getShort(i * 2) & 0xffff).toLong
        case 4 => b.getInt(i * 4).toLong & 0xffffffffL
        case 16 => b.getLong(i * 8)
        case t => throw new IllegalArgumentException(
          s"$path: tag ${e.tag} expected integer type, got $t")
      }

      def shortOrLongIn(es: Map[Int, Entry], tag: Int, default: Int = -1): Int =
        es.get(tag) match {
          case None => default
          case Some(e) => intAt(e, payload(e), 0).toInt
        }
      def shortOrLong(tag: Int, default: Int = -1): Int =
        shortOrLongIn(entries, tag, default)

      def longs(tag: Int): Option[Array[Long]] = entries.get(tag).map { e =>
        val b = payload(e)
        Array.tabulate(e.count.toInt)(i => intAt(e, b, i))
      }

      def doublesIn(es: Map[Int, Entry], tag: Int): Option[Array[Double]] =
        es.get(tag).map { e =>
          require(e.fieldType == 12, s"$path: tag $tag expected DOUBLE, got type ${e.fieldType}")
          val b = payload(e)
          Array.tabulate(e.count.toInt)(i => b.getDouble(i * 8))
        }
      def doubles(tag: Int): Option[Array[Double]] = doublesIn(entries, tag)

      def asciiIn(es: Map[Int, Entry], tag: Int): Option[String] = es.get(tag).map { e =>
        val b = payload(e)
        val bytes = new Array[Byte](e.count.toInt)
        b.get(bytes)
        // NUL-terminate first, THEN trim: stopping at the first space would
        // turn a leading-whitespace payload (" -9999") into "" and silently
        // disable the NoData mask
        new String(bytes, "US-ASCII").takeWhile(_ != '\u0000').trim
      }
      def ascii(tag: Int): Option[String] = asciiIn(entries, tag)

      val width = shortOrLong(256)
      val height = shortOrLong(257)
      require(width > 0 && height > 0, s"$path: missing ImageWidth/ImageLength")
      val bps = shortOrLong(258, 1)
      val sampleFormat = shortOrLong(339, 1)
      // Geo grid of one IFD from its OWN tags: ModelPixelScale (33550) +
      // ModelTiepoint (33922) when both are present (they travel as a pair —
      // exactly one is a malformed file and fails with the missing tag
      // NAMED, never a silent fallback); otherwise a ModelTransformation
      // (34264, the row-major 4×4 affine some writers emit instead of the
      // pair — legal GeoTIFF), including ROTATION/SHEAR terms since round
      // 14: both coordinates are emitted as full functions of (col, row),
      // so the reader no longer assumes separability (geodesic pixel AREA
      // on rotated grids uses GeoMath.pixelAreaAffineM2's Jacobian form
      // since round 15). Flipped axes (m00 <= 0 or m11 >= 0) stay
      // rejected: the window planner and the north-up fixtures assume the
      // dominant terms keep the standard orientation. When a file carries
      // BOTH the pair and 34264, the pair wins (the GeoTIFF spec calls
      // them exclusive; GDAL prefers the pair too).
      // Returns (scaleX, scaleY, originX, originY, rotX, rotY).
      def gridOwn(es: Map[Int, Entry], label: String)
          : Option[(Double, Double, Double, Double, Double, Double)] =
        (doublesIn(es, 33550), doublesIn(es, 33922)) match {
          case (Some(scale), Some(tie)) =>
            // Tiepoint maps raster (i, j) -> geo (x, y); origin = top-left corner.
            Some((scale(0), scale(1), tie(3) - tie(0) * scale(0),
              tie(4) + tie(1) * scale(1), 0.0, 0.0))
          case (Some(_), None) =>
            throw new IllegalArgumentException(
              s"$path: $label has ModelPixelScale (33550) but no ModelTiepoint (33922) — the pair is required together")
          case (None, Some(_)) =>
            throw new IllegalArgumentException(
              s"$path: $label has ModelTiepoint (33922) but no ModelPixelScale (33550) — the pair is required together")
          case (None, None) =>
            doublesIn(es, 34264).map { m =>
              require(m.length == 16,
                s"$path: $label ModelTransformation (34264) has ${m.length} values, expected a 4x4 matrix (16)")
              require(m(0) > 0.0 && m(5) < 0.0,
                s"$path: ModelTransformation (34264) with flipped axes unsupported " +
                  s"(m00=${m(0)} must be > 0 and m11=${m(5)} must be < 0 — north-up only)")
              // pixelScaleY is carried as a positive magnitude (applied
              // negative by latOf), matching the ModelPixelScale convention;
              // m01/m10 ride through verbatim as the rotation terms
              (m(0), -m(5), m(3), m(7), m(1), m(4))
            }
        }
      // An IFD's own grid wins; an overview without one (the GDAL COG shape)
      // inherits IFD0's origin with the pixel scale multiplied by the
      // decimation factor per axis -- extent-preserving even when the
      // reduced dimensions are rounded.
      val (scaleX, scaleY, originX, originY, rotX, rotY) =
        gridOwn(entries, if (overview > 0) s"overview IFD $overview" else "IFD0") match {
          case Some(g) => g
          case None if overview > 0 =>
            val (s0x, s0y, o0x, o0y, r0x, r0y) = gridOwn(entries0, "IFD0").getOrElse(
              throw new IllegalArgumentException(
                s"$path: missing GeoTIFF grid on IFD0 — need ModelPixelScale (33550) + " +
                  "ModelTiepoint (33922), or a ModelTransformation (34264)"))
            val w0 = shortOrLongIn(entries0, 256)
            val h0 = shortOrLongIn(entries0, 257)
            require(w0 >= width && h0 >= height,
              s"$path: overview $overview ($width x $height) larger than IFD0 ($w0 x $h0)")
            // decimation scales every per-index derivative: per-col terms
            // (sx, ry) by the col factor, per-row terms (sy, rx) by the row
            // factor — extent-preserving exactly like the axis-aligned case
            (s0x * (w0.toDouble / width), s0y * (h0.toDouble / height), o0x, o0y,
              r0x * (h0.toDouble / height), r0y * (w0.toDouble / width))
          case None =>
            throw new IllegalArgumentException(
              s"$path: missing GeoTIFF grid — need ModelPixelScale (33550) + ModelTiepoint " +
                "(33922), or a ModelTransformation (34264)")
        }
      // GeoKeyDirectory (34735): a SHORT array — 4-short header
      // (KeyDirectoryVersion, KeyRevision, MinorRevision, NumberOfKeys)
      // followed by NumberOfKeys 4-short entries (KeyID, TIFFTagLocation,
      // Count, ValueOffset). Only inline SHORT-valued keys (TIFFTagLocation
      // == 0, the encoding of every key read here) are extracted; keys
      // stored in the companion double/ascii params tags don't carry the CRS
      // facts this source gates on. Overviews inherit IFD0's keys like the
      // rest of the geo metadata.
      def geoKeysIn(es: Map[Int, Entry]): Option[Map[Int, Int]] = es.get(34735).map { e =>
        require(e.fieldType == 3,
          s"$path: GeoKeyDirectory (34735) expected SHORT, got type ${e.fieldType}")
        // the 4-short header must exist before NumberOfKeys can be read —
        // a shorter entry would otherwise throw a raw IndexOutOfBounds
        // from the buffer, not this module's typed error
        require(e.count >= 4,
          s"$path: GeoKeyDirectory (34735) carries only ${e.count} shorts — " +
            "the 4-short header is mandatory")
        val b = payload(e)
        val nKeys = b.getShort(6) & 0xffff
        require(e.count >= 4L * (nKeys + 1),
          s"$path: GeoKeyDirectory (34735) declares $nKeys keys but carries only ${e.count} shorts")
        (0 until nKeys).flatMap { i =>
          val off = (4 + i * 4) * 2
          val keyId = b.getShort(off) & 0xffff
          val tagLoc = b.getShort(off + 2) & 0xffff
          val v = b.getShort(off + 6) & 0xffff
          if (tagLoc == 0) Some(keyId -> v) else None
        }.toMap
      }
      val geoKeys = geoKeysIn(entries)
        .orElse(if (overview > 0) geoKeysIn(entries0) else None)
      val crsModelType = geoKeys.flatMap(_.get(1024))
      val epsg = crsModelType.flatMap {
        case 2 => geoKeys.flatMap(_.get(2048)) // GeographicTypeGeoKey
        case 1 => geoKeys.flatMap(_.get(3072)) // ProjectedCSTypeGeoKey
        case _ => None
      }
      // GDAL writes lowercase "nan" for float NaN nodata; Java's toDouble
      // only accepts "NaN", so normalize case before parsing.
      def parseNd(s: String): Option[Double] =
        if (s.equalsIgnoreCase("nan")) Some(Double.NaN)
        else scala.util.Try(s.toDouble).toOption
      val noData = ascii(42113)
        .orElse(if (overview > 0) asciiIn(entries0, 42113) else None)
        .flatMap(parseNd)

      // Pixels of both header widths are decoded by the source's own chunk
      // reader: the codecs below — stripped OR tiled (COG) — predictor
      // none, horizontal-differencing (2, integer samples) or
      // floating-point (3, float samples), i.e. what GDAL actually writes.
      // Everything else (old-style JPEG 6, CCITT, ...) gets a typed error
      // at planning, never garbage.
      val compression = shortOrLong(259, 1)
      require(compression == 1 || compression == 5 || compression == 7 ||
          compression == 8 || compression == 32946 || compression == 32773 ||
          compression == 50000 || compression == 34925,
        s"$path: TIFF compression $compression unsupported " +
          "(1=none, 5=LZW, 7=JPEG, 8/32946=DEFLATE, 32773=PackBits, " +
          "34925=LZMA, 50000=ZSTD)")
      // new-style JPEG (7, TIFF TechNote 2): 8-bit unsigned samples only
      // (the JDK JPEG decoder's domain), no predictor (meaningless over a
      // transform codec), chunky layout (GDAL writes JPEG chunky)
      require(compression != 7 || (bps == 8 && sampleFormat == 1),
        s"$path: JPEG-in-TIFF requires 8-bit unsigned samples, got $bps-bit format $sampleFormat")
      // PhotometricInterpretation (262) gates which color models the JDK
      // decode's output actually matches the file's declared samples:
      // 1 = grayscale, 6 = YCbCr (the GDAL JPEG default — the reader
      // converts to RGB, which IS the intended sample meaning).
      // RGB-stored (2) is rejected too: a 3-component JPEG stream with
      // no Adobe/component-ID hints is ASSUMED YCbCr by the JDK decoder,
      // which would apply a spurious inverse color transform to the
      // stored RGB — silently wrong samples, exactly what this gate
      // exists to block (GDAL's own JPEG-in-TIFF output is 1 or 6).
      // Separated/CMYK (5), palette (3), CIELab (8)… would decode to
      // values whose meaning silently differs — typed error, not garbage.
      if (compression == 7) {
        val photo = shortOrLong(262, if (shortOrLong(277, 1) == 1) 1 else 6)
        require(photo == 1 || photo == 6,
          s"$path: JPEG-in-TIFF PhotometricInterpretation $photo unsupported " +
            "(1=grayscale and 6=YCbCr only: the JDK decoder infers the " +
            "colorspace from the stream, so RGB-stored (2) risks a spurious " +
            "YCbCr transform)")
      }
      val jpegTables: IndexedSeq[Byte] =
        if (compression != 7) Vector.empty
        else entries.get(347).map { e =>
          val b = payload(e)
          val arr = new Array[Byte](e.count.toInt)
          b.get(arr)
          require(arr.length >= 4 &&
              (arr(0) & 0xff) == 0xff && (arr(1) & 0xff) == 0xd8 &&
              (arr(arr.length - 2) & 0xff) == 0xff && (arr(arr.length - 1) & 0xff) == 0xd9,
            s"$path: JPEGTables (347) is not an SOI…EOI stream")
          arr.toIndexedSeq
        }.getOrElse(Vector.empty)
      val predictor = shortOrLong(317, 1)
      require(compression != 7 || predictor == 1,
        s"$path: predictor $predictor over JPEG chunks is malformed")
      require(predictor == 1 || predictor == 2 || predictor == 3,
        s"$path: TIFF predictor $predictor unsupported " +
          "(1=none, 2=horizontal differencing, 3=floating-point)")
      require(predictor != 2 || sampleFormat != 3,
        s"$path: predictor 2 over float samples is malformed (floats use predictor 3)")
      require(predictor != 3 || sampleFormat == 3,
        s"$path: predictor 3 (floating-point differencing) over integer samples is malformed")
      // multi-band: chunky (pixel-interleaved, PlanarConfiguration 1 —
      // the GDAL INTERLEAVE=PIXEL default) and planar (band-separate
      // chunks, INTERLEAVE=BAND; chunks stored plane-major) both decode
      // natively. BitsPerSample / SampleFormat carry one entry per band —
      // mixed-depth bands are rejected, uniform ones collapse to the
      // single value the decode math uses.
      val spp = shortOrLong(277, 1)
      require(spp >= 1 && spp <= 16,
        s"$path: implausible TIFF SamplesPerPixel $spp")
      val planarCfg = if (spp > 1) shortOrLong(284, 1) else 1
      require(planarCfg == 1 || planarCfg == 2,
        s"$path: TIFF PlanarConfiguration $planarCfg unsupported " +
          "(1 = chunky/pixel-interleaved, 2 = planar/band-separate)")
      require(compression != 7 || planarCfg == 1,
        s"$path: JPEG-in-TIFF planar layout unsupported (GDAL writes JPEG chunky)")
      val planesPerChunk = if (planarCfg == 2) spp.toLong else 1L
      def uniform(tag: Int, name: String, got: Int): Unit =
        entries.get(tag).foreach { e =>
          val b = payload(e)
          val vals = (0 until e.count.toInt).map(i => intAt(e, b, i)).distinct
          require(vals.size == 1 && vals.head == got.toLong,
            s"$path: per-band $name values ${vals.mkString(",")} unsupported " +
              "(bands must share one sample layout)")
        }
      uniform(258, "BitsPerSample", bps)
      uniform(339, "SampleFormat", sampleFormat)
      // Chunk extents are untrusted like tag payloads: every strip or tile
      // must lie inside the file, so a patched offset or byte count fails
      // here with a typed error instead of allocating up to 2 GiB or
      // hitting EOF inside a task. A compressed chunk's size is its byte
      // count; an uncompressed one's is implied by the rows it holds
      // (computed in Long, saturating, so no product can wrap).
      val fileLen = raf.length()
      val chunkPixBytes = (bps / 8).toLong * (if (planarCfg == 2) 1 else spp)
      def chunkBytes(rows: Long, rowWidth: Long): Long = {
        val rowBytes = rowWidth * chunkPixBytes
        if (rowBytes != 0 && rows > Long.MaxValue / rowBytes) Long.MaxValue else rows * rowBytes
      }
      def requireChunksInFile(kind: String, offsets: IndexedSeq[Long], size: Int => Long): Unit =
        offsets.indices.foreach { i =>
          val (off, n) = (offsets(i), size(i))
          require(off >= 0 && n >= 0 && off <= fileLen && n <= fileLen - off,
            s"$path: $kind $i ($n bytes at offset $off) lies outside the $fileLen-byte file")
        }
      if (entries.contains(322) || entries.contains(324)) {
        // Tiled layout (tags 322/323/324/325) — the cloud-optimized
        // GeoTIFF (COG) shape: TILED + DEFLATE is the modern distribution
        // format for exactly the reference's datasets. Same codecs and
        // predictor as strips, different chunk geometry.
        require(!entries.contains(273),
          s"$path: both StripOffsets (273) and tile tags present — malformed")
        val tw = shortOrLong(322)
        val tl = shortOrLong(323)
        require(tw > 0 && tl > 0,
          s"$path: tiled TIFF missing TileWidth/TileLength (322/323)")
        val tOffsets = longs(324).getOrElse(throw new IllegalArgumentException(
          s"$path: tiled TIFF missing TileOffsets (324)")).toIndexedSeq
        val nTiles = ((width + tw - 1) / tw).toLong * ((height + tl - 1) / tl) *
          planesPerChunk
        require(tOffsets.length.toLong == nTiles,
          s"$path: ${tOffsets.length} tile offsets for $nTiles tiles")
        val tCounts =
          if (compression == 1) Vector.empty[Long]
          else longs(325).getOrElse(throw new IllegalArgumentException(
            s"$path: compressed tiled TIFF missing TileByteCounts (325)")).toIndexedSeq
        require(compression == 1 || tCounts.length == tOffsets.length,
          s"$path: ${tCounts.length} tile byte counts for ${tOffsets.length} tiles")
        // edge tiles are padded to the full tile in the file
        val tileBytes = chunkBytes(tl, tw)
        requireChunksInFile("tile", tOffsets,
          if (compression == 1) _ => tileBytes else tCounts)
        RasterMeta(path, width, height, bps, sampleFormat,
          scaleX, scaleY, originX, originY, noData,
          rotX = rotX, rotY = rotY,
          samplesPerPixel = spp,
          bigTiff = bigTiff, littleEndian = order == ByteOrder.LITTLE_ENDIAN,
          compression = compression, predictor = predictor,
          tileWidth = tw, tileLength = tl,
          tileOffsets = tOffsets, tileByteCounts = tCounts,
          planarConfig = planarCfg, imageIndex = overview,
          crsModelType = crsModelType, epsg = epsg, jpegTables = jpegTables)
      } else {
        val offsets = longs(273).getOrElse(
          throw new IllegalArgumentException(s"$path: TIFF missing StripOffsets (273)"))
          .toIndexedSeq
        val rps = entries.get(278).map(e => intAt(e, payload(e), 0))
          .getOrElse(height.toLong)
        require(rps > 0, s"$path: RowsPerStrip (278) is $rps, must be positive")
        // chunk-count validation mirrors the tiled branch: a planar file
        // carries planes x stripsPerBand strips — a short offsets array must
        // fail HERE with a typed error, not as an index crash in a task
        val expectStrips = ((height + rps - 1) / rps) * planesPerChunk
        require(offsets.length.toLong == expectStrips,
          s"$path: ${offsets.length} strip offsets for $expectStrips strips " +
            s"(rowsPerStrip=$rps, planes=$planesPerChunk)")
        val byteCounts =
          if (compression == 1) Vector.empty[Long]
          else longs(279).getOrElse(throw new IllegalArgumentException(
            s"$path: compressed TIFF missing StripByteCounts (279)")).toIndexedSeq
        require(compression == 1 || byteCounts.length == offsets.length,
          s"$path: ${byteCounts.length} strip byte counts for ${offsets.length} strips")
        // the last strip of each band holds only the image's remaining rows
        val stripsPerBand = (height + rps - 1) / rps
        requireChunksInFile("strip", offsets,
          if (compression == 1) s => chunkBytes(
            math.min(rps, height - (s % stripsPerBand) * rps), width)
          else byteCounts)
        RasterMeta(path, width, height, bps, sampleFormat,
          scaleX, scaleY, originX, originY, noData,
          rotX = rotX, rotY = rotY,
          samplesPerPixel = spp,
          bigTiff = bigTiff, littleEndian = order == ByteOrder.LITTLE_ENDIAN,
          rowsPerStrip = rps, stripOffsets = offsets,
          compression = compression, predictor = predictor, stripByteCounts = byteCounts,
          planarConfig = planarCfg, imageIndex = overview,
          crsModelType = crsModelType, epsg = epsg, jpegTables = jpegTables)
      }
    } finally raf.close()
  }
}
