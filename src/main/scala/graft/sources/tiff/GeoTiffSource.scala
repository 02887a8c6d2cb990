package graft.sources.tiff

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.GeoMath

/** DataSource V2 GeoTIFF → point-table source (the reference's entire own
  * surface, SURVEY §2A A1–A14, re-expressed Spark-first).
  *
  * Logical contract (mirrors raster2points/raster2points.py::raster2df,
  * anchors unverified per SURVEY §0): one output row per pixel where the
  * FIRST raster has data; columns (lon, lat, <one per raster>[, area]).
  * Values of rasters 2..n pass through raw even when they equal their own
  * NoData. Grids must match exactly or planning fails — unless
  * `resample=nearest`, which lets secondaries carry a DIFFERENT grid, in
  * the mask's CRS or in one a supported transform reaches
  * ([[CrsTransform.zipTransform]]); they must cover the mask extent, and
  * each output pixel samples the secondary cell containing its
  * mask-centroid ([[SecondaryMap]]) — the 30 m-mask + 250 m-layer
  * combination raster users actually have.
  *
  * Spark mapping:
  *   - window planning (A2)  -> one InputPartition per <=maxBlockSize² window
  *   - NoData mask (A3)      -> applied inside the PartitionReader, and the
  *                              residual filter is still evaluated by Spark
  *   - lon/lat range filters -> window (partition) pruning via the inverse
  *                              affine transform (SupportsPushDownFilters)
  *   - column pruning (A1)   -> SupportsPushDownRequiredColumns; pruned
  *                              value columns skip their raster read
  *                              entirely
  *   - area (A6)             -> computed per row from the window's latitude
  *
  * Options: `paths` (comma-separated, first = mask raster), `colNames`
  * (comma-separated, default val1..valN), `bands` (comma-separated 1-based
  * band per raster, default all 1 — repeat a path with different bands to
  * read several bands of one file), `maxBlockSize` (default 4096),
  * `calcArea` (boolean, default false), `overview` (COG overview level:
  * 0 = full resolution, k = the k-th reduced-resolution IFD of the
  * pyramid — scan coarse data without touching full-res chunks; classic
  * and BigTIFF), `resample` ('nearest': secondary rasters may carry a
  * different grid or a transformable CRS, sampled at the mask grid's
  * centroids), `datumBridge` (epsg1188 / epsg1149: opt-in cross-datum
  * pairs under resample=nearest).
  * Paths/colNames must not contain ',' (flat string options).
  *
  * Scale posture: planning reads only TIFF headers (one tiny IFD read per
  * raster); each task decodes exactly its window through the chunk reader
  * ([[RawStripGrid]] over [[StripDecode]], the one pixel path for classic
  * TIFF and BigTIFF alike), so executor memory is bounded by maxBlockSize²
  * (plus one strip or tile) regardless of raster size, and tasks scale
  * with raster area / block².
  */
class GeoTiffSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geotiff"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoTiffTable.fromOptions(options).schema()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    GeoTiffTable.fromOptions(new CaseInsensitiveStringMap(properties))
}

object GeoTiffTable {
  def fromOptions(options: CaseInsensitiveStringMap): GeoTiffTable = {
    val paths: Seq[String] =
      Option(options.get("paths")).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .orElse(Option(options.get("path")).map(Seq(_)))
        .getOrElse(throw new IllegalArgumentException(
          "geotiff source requires option 'paths' (comma-separated) or a load(path)"))
    val colNames = Option(options.get("colNames"))
      .map(_.split(',').toSeq.map(_.trim))
      .getOrElse(paths.indices.map(i => s"val${i + 1}"))
    require(colNames.size == paths.size,
      s"colNames has ${colNames.size} entries for ${paths.size} rasters")
    // Locale.ROOT: Spark's own case-insensitive resolution is locale-free,
    // so this check must be too (a Turkish default locale lowercases 'I'
    // to dotless ı and would let 'ID,id' evade the guard)
    require(colNames.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size == colNames.size,
      s"colNames has duplicates: ${colNames.mkString(", ")}")
    val maxBlock = Option(options.get("maxBlockSize")).map(_.toInt).getOrElse(4096)
    require(maxBlock > 0, s"maxBlockSize must be positive, got $maxBlock")
    val calcArea = Option(options.get("calcArea")).exists(_.toBoolean)
    // 1-based band per raster (GDAL convention); read N bands of one file
    // by listing the same path N times with different band indices
    val bands = Option(options.get("bands"))
      .map(_.split(',').toSeq.map(_.trim.toInt))
      .getOrElse(paths.map(_ => 1))
    require(bands.size == paths.size,
      s"bands has ${bands.size} entries for ${paths.size} rasters")
    require(bands.forall(_ >= 1), s"band indices are 1-based, got $bands")
    // COG overview level: 0 = full resolution (default), k = the k-th
    // reduced-resolution IFD — scan the pyramid instead of full-res data
    val overview = Option(options.get("overview")).map(_.toInt).getOrElse(0)
    require(overview >= 0, s"overview must be >= 0, got $overview")
    // resample=nearest (round 14): secondary rasters may carry DIFFERENT
    // grids (same CRS) — each output pixel samples the secondary cell
    // containing its mask-grid centroid. Absent/empty = grids must match.
    val resample = Option(options.get("resample")).map(_.trim).filter(_.nonEmpty)
    resample.foreach(r => require(r.equalsIgnoreCase("nearest"),
      s"unsupported resample mode '$r' — only 'nearest' is supported"))
    // datumBridge (round 16): OPT-IN cross-datum zips through a published
    // zero-shift transform the VALUE must name — epsg1188 (NAD83<->WGS84,
    // ~2 m) or epsg1149 (ETRS89<->WGS84, ~1 m). Default stays the typed
    // rejection — the shifts are time-dependent and must never be
    // conflated silently, and a value never opens a pair it does not name.
    val datumBridge = Option(options.get("datumBridge")).map(_.trim).filter(_.nonEmpty)
    datumBridge.foreach(b => require(
      b.equalsIgnoreCase("epsg1188") || b.equalsIgnoreCase("epsg1149"),
      s"unsupported datumBridge '$b' — only 'epsg1188' (the published " +
        "NAD83<->WGS84 zero-shift geocentric translation, ~1-2 m accuracy) " +
        "and 'epsg1149' (the ETRS89<->WGS84 twin, ~1 m) are supported; no " +
        "other datum pair has a bridge"))
    new GeoTiffTable(paths, colNames, maxBlock, calcArea, bands, overview,
      resample.isDefined, datumBridge.map(_.toLowerCase).getOrElse(""))
  }

  /** Coordinate column names for a raster: lon/lat for geographic (or
    * undeclared — the reference era's files) CRS, neutral x/y when the
    * GeoKeyDirectory declares a projected/geocentric model. THE single
    * point of truth — the table's schema and the partition reader's
    * extractors both resolve names here, so they cannot drift apart.
    */
  def coordNames(meta: TiffTags.RasterMeta): (String, String) =
    if (meta.nonGeographic) ("x", "y") else ("lon", "lat")

  /** Smallest Spark type that holds the raster's sample type (Spark has no
    * unsigned ints, so unsigned widens: u8->short, u16->int, u32->long).
    */
  def sparkType(meta: TiffTags.RasterMeta): DataType =
    (meta.sampleFormat, meta.bitsPerSample) match {
      case (3, 32) => FloatType
      case (3, 64) => DoubleType
      case (2, 8) => ByteType
      case (2, 16) => ShortType
      case (2, 32) => IntegerType
      case (1, 8) => ShortType
      case (1, 16) => IntegerType
      case (1, 32) => LongType
      case (sf, b) => throw new IllegalArgumentException(
        s"${meta.path}: unsupported sample format/bits: $sf/$b")
    }
}

class GeoTiffTable(
    paths: Seq[String],
    colNames: Seq[String],
    maxBlockSize: Int,
    calcArea: Boolean,
    bands: Seq[Int],
    overview: Int,
    resampleNearest: Boolean,
    datumBridge: String)
  extends Table with SupportsRead {

  // the supported-transform list both CRS-mismatch errors teach under
  // resample=nearest
  private val supportedPairs = "; supported resample transforms are same-datum " +
    "pairs of EPSG:4326/UTM 326xx/327xx/polar 3413,3976,3031/UPS/" +
    "3857/polar LAEA 3573-3576 (WGS84), EPSG:4269/UTM 269xx/" +
    "Albers 5070,6350,3310/LCC 26941-26946 (NAD83), or EPSG:4258/" +
    "LAEA 3035 (ETRS89); cross-datum pairs additionally need option " +
    "datumBridge=epsg1188 (NAD83<->WGS84) or epsg1149 " +
    "(ETRS89<->WGS84), ~1-2 m accuracy"

  lazy val metas: Seq[TiffTags.RasterMeta] = {
    val ms = paths.map(TiffTags.readOverview(_, overview))
    val first = ms.head
    ms.tail.foreach { m =>
      val sm = new SecondaryMap(first, m, resampleNearest, datumBridge)
      // identical grids required UNLESS resample=nearest was requested:
      // then the mask (first) grid defines the output and each secondary
      // is sampled at the mask centroids — but it must COVER the mask
      // extent, so every output pixel maps inside it (checked below)
      require(resampleNearest || first.sameGrid(m),
        s"raster grid mismatch: ${first.path} vs ${m.path} (extent/resolution must be " +
          "identical; pass option resample=nearest to sample a different-grid raster " +
          "at the mask grid's pixel centroids)")
      // Cross-CRS zip (round 15): under resample=nearest, a secondary whose
      // declared EPSG a supported transform reaches (`supportedPairs`;
      // cross-datum pairs only through datumBridge, round 16) is sampled
      // through it; every other mismatched pair keeps its typed rejection.
      if (sm.crs.isEmpty) {
        require(first.nonGeographic == m.nonGeographic,
          s"raster CRS mismatch: ${first.path} (model type ${first.crsModelType}) vs " +
            s"${m.path} (model type ${m.crsModelType}) — geographic and projected " +
            "rasters cannot share a point grid" +
            (if (resampleNearest) supportedPairs else ""))
        // same kind is not enough: two DIFFERENT projected CRSs (UTM zones
        // routinely share identical numeric grids — false easting 500000,
        // same scale) or two geographic datums would zip pixels from
        // locations hundreds of km apart. When both sides declare a model
        // type / EPSG code, they must agree exactly; an undeclared side
        // (no GeoKeyDirectory) stays compatible with anything of its kind.
        for (a <- first.crsModelType; b <- m.crsModelType)
          require(a == b,
            s"raster CRS mismatch: ${first.path} (model type $a) vs ${m.path} (model type $b)")
        for (a <- first.epsg; b <- m.epsg)
          require(a == b,
            s"raster CRS mismatch: ${first.path} (EPSG:$a) vs ${m.path} (EPSG:$b) — " +
              "identical numeric grids in different CRSs are different places" +
              (if (resampleNearest) supportedPairs else ""))
      }
      sm.requireCovers()
    }
    ms.zip(bands).foreach { case (m, b) =>
      require(b <= m.samplesPerPixel,
        s"${m.path}: band $b requested but raster has ${m.samplesPerPixel} band(s)")
    }
    // Geodesic pixel area assumes WGS84 degrees (GeoMath.pixelAreaM2): on a
    // projected/geocentric CRS the coordinates are meters and the formula
    // returns garbage — typed-reject rather than emit wrong numbers.
    require(!calcArea || !first.nonGeographic,
      s"${first.path}: calcArea requires a geographic CRS — the GeoKeyDirectory declares " +
        s"model type ${first.crsModelType.getOrElse(-1)}" +
        first.epsg.fold("")(e => s" (EPSG:$e)") +
        "; geodesic area over projected coordinates would be meaningless")
    // Rotated grids compute area through the Jacobian generalization
    // (GeoMath.pixelAreaAffineM2, round-15): pixels are parallelograms in
    // lon/lat, integrated exactly along the dominant lat-step edge and by
    // 2-point Gauss along the other. Axis-aligned grids keep the historical
    // trapezoid formula bit-for-bit (the function's rot=0 branch). The only
    // remaining calcArea gate is the geographic-CRS one above.
    // Band columns must not shadow the coordinate/area fields THIS table
    // emits (coordNames depends on the CRS kind, so the check lives here,
    // after metas resolve — a band named "lon" on a projected x/y frame is
    // legal and zonalStats' ambiguity guard handles it): a duplicate field
    // name would make the extractor emit the coordinate for both copies
    // and the band values silently unreadable. Case-insensitive because
    // Spark's default analyzer resolves names case-insensitively.
    val cn = GeoTiffTable.coordNames(first)
    val emitted = Set(cn._1, cn._2) ++ (if (calcArea) Set("area") else Set.empty)
    val clash = colNames.filter(n => emitted.contains(n.toLowerCase(java.util.Locale.ROOT)))
    require(clash.isEmpty,
      s"colNames ${clash.mkString(", ")} collide with this table's coordinate/area " +
        s"columns (${emitted.mkString(", ")}) — rename the band column(s)")
    ms
  }

  /** Coordinate column names (resolved by [[GeoTiffTable.coordNames]], the
    * single point of truth): naming a projected raster's meters lon/lat is
    * the silent-garbage failure the CRS gate exists to prevent. Window
    * pruning and the affine math are CRS-agnostic and work identically
    * under either naming.
    */
  lazy val coordNames: (String, String) = GeoTiffTable.coordNames(metas.head)

  override def name(): String = s"geotiff(${paths.mkString(",")})"

  override def schema(): StructType = {
    val base = Seq(
      StructField(coordNames._1, DoubleType, nullable = false),
      StructField(coordNames._2, DoubleType, nullable = false)) ++
      metas.zip(colNames).map { case (m, n) =>
        StructField(n, GeoTiffTable.sparkType(m), nullable = false)
      }
    StructType(if (calcArea) base :+ StructField("area", DoubleType, nullable = false) else base)
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoTiffScanBuilder(metas, colNames, schema(), maxBlockSize, calcArea, bands,
      coordNames, resampleNearest, datumBridge)
}

class GeoTiffScanBuilder(
    metas: Seq[TiffTags.RasterMeta],
    colNames: Seq[String],
    fullSchema: StructType,
    maxBlockSize: Int,
    calcArea: Boolean,
    bands: Seq[Int],
    coordNames: (String, String),
    resampleNearest: Boolean,
    datumBridge: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private val (xName, yName) = coordNames
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  // coordinate bounds harvested from pushed filters, used for window pruning
  // (the names are lon/lat on geographic files, x/y on projected ones — the
  // affine window math is identical either way)
  private var lonMin = Double.NegativeInfinity
  private var lonMax = Double.PositiveInfinity
  private var latMin = Double.NegativeInfinity
  private var latMax = Double.PositiveInfinity

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = ArrayBuffer[Filter]()
    filters.foreach {
      case f @ GreaterThan(`xName`, v: Number) => lonMin = lonMin.max(v.doubleValue()); usable += f
      case f @ GreaterThanOrEqual(`xName`, v: Number) => lonMin = lonMin.max(v.doubleValue()); usable += f
      case f @ LessThan(`xName`, v: Number) => lonMax = lonMax.min(v.doubleValue()); usable += f
      case f @ LessThanOrEqual(`xName`, v: Number) => lonMax = lonMax.min(v.doubleValue()); usable += f
      case f @ GreaterThan(`yName`, v: Number) => latMin = latMin.max(v.doubleValue()); usable += f
      case f @ GreaterThanOrEqual(`yName`, v: Number) => latMin = latMin.max(v.doubleValue()); usable += f
      case f @ LessThan(`yName`, v: Number) => latMax = latMax.min(v.doubleValue()); usable += f
      case f @ LessThanOrEqual(`yName`, v: Number) => latMax = latMax.min(v.doubleValue()); usable += f
      case _ => ()
    }
    pushed = usable.toArray
    // All filters are returned as residuals: window pruning is partition-level
    // (coarse), Spark re-evaluates exact predicates post-scan.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GeoTiffScan(metas, colNames, required, maxBlockSize, calcArea, bands,
      lonMin, lonMax, latMin, latMax, resampleNearest, datumBridge)
}

/** A grid window: the unit of parallelism (reference A2). */
case class TiffWindow(colOff: Int, rowOff: Int, width: Int, height: Int)

case class GeoTiffPartition(window: TiffWindow) extends InputPartition

class GeoTiffScan(
    metas: Seq[TiffTags.RasterMeta],
    colNames: Seq[String],
    required: StructType,
    maxBlockSize: Int,
    calcArea: Boolean,
    bands: Seq[Int],
    lonMin: Double, lonMax: Double, latMin: Double, latMax: Double,
    resampleNearest: Boolean,
    datumBridge: String)
  extends Scan with Batch with Serializable {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"GeoTiffScan(${metas.map(_.path).mkString(",")}, block=$maxBlockSize)"

  override def planInputPartitions(): Array[InputPartition] = {
    val m = metas.head
    // Effective block bound (round-14 review finding): under
    // resample=nearest a k×-FINER secondary's read window grows k per
    // AXIS (k² pixels), so the MASK windows shrink until every raster's
    // read window stays ≤ maxBlockSize per side — the O(maxBlockSize²)
    // memory contract the scaladoc promises ([[SecondaryMap.blockBound]]).
    // Coarser secondaries leave the block untouched.
    val effBlock: Int = metas.tail
      .map(new SecondaryMap(m, _, resampleNearest, datumBridge).blockBound(maxBlockSize))
      .foldLeft(maxBlockSize)(math.min)
    val parts = ArrayBuffer[InputPartition]()
    var r = 0
    while (r < m.height) {
      val h = math.min(effBlock, m.height - r)
      var c = 0
      while (c < m.width) {
        val w = math.min(effBlock, m.width - c)
        // window geo bounds from its FOUR corners: exact under the full
        // affine (an affine maps the window rectangle to a parallelogram,
        // whose coordinate extrema are at corners). On axis-aligned grids
        // (rot = 0) this reduces to the historical separable bounds.
        def cornerX(cc: Int, rr: Int): Double =
          m.originX + cc * m.pixelScaleX + rr * m.rotX
        def cornerY(cc: Int, rr: Int): Double =
          m.originY + cc * m.rotY - rr * m.pixelScaleY
        val xs = Array(cornerX(c, r), cornerX(c + w, r),
          cornerX(c, r + h), cornerX(c + w, r + h))
        val ys = Array(cornerY(c, r), cornerY(c + w, r),
          cornerY(c, r + h), cornerY(c + w, r + h))
        val overlaps = xs.max >= lonMin && xs.min <= lonMax &&
          ys.max >= latMin && ys.min <= latMax
        if (overlaps) parts += GeoTiffPartition(TiffWindow(c, r, w, h))
        c += w
      }
      r += h
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoTiffReaderFactory(metas.toArray, colNames.toArray, required, calcArea,
      bands.toArray, resampleNearest, datumBridge)
}

class GeoTiffReaderFactory(
    metas: Array[TiffTags.RasterMeta],
    colNames: Array[String],
    required: StructType,
    calcArea: Boolean,
    bands: Array[Int],
    resampleNearest: Boolean,
    datumBridge: String)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoTiffPartitionReader(metas, colNames, required,
      partition.asInstanceOf[GeoTiffPartition].window, calcArea, bands, resampleNearest,
      datumBridge)
}

/** Window-of-pixels accessor over the raw chunks of a classic TIFF or a
  * BigTIFF; (x, y) are WINDOW-relative. Uncompressed strips are seek-read
  * row by row (a task reads O(window) bytes of a raster of any size:
  * sample (row, col) lives at stripOffsets(row / rowsPerStrip) +
  * ((row % rowsPerStrip) * width + col) * bytesPerSample); DEFLATE/LZW
  * strips are decompressed once per overlapping strip and the window's
  * columns extracted ([[StripDecode]], O(strip + window) memory); TILED
  * layouts (COG) decode each overlapping tile once (O(tile + window)).
  */
private[tiff] final class RawStripGrid(meta: TiffTags.RasterMeta, window: TiffWindow,
    band: Int = 0) {

  require(band >= 0 && band < meta.samplesPerPixel,
    s"${meta.path}: band ${band + 1} of ${meta.samplesPerPixel} requested")
  private val bytesPer = meta.bitsPerSample / 8
  // chunky (pixel-interleaved) layout: a pixel's samples are adjacent, so
  // band selection is a fixed byte offset within the pixel stride. Planar
  // layout: only the requested band's plane is read at all (band selection
  // = chunk selection, strictly less I/O), and the plane is spp=1-shaped.
  private val planar = meta.planarConfig == 2
  private val plane = if (planar) band else -1
  private val pixBytes = if (planar) bytesPer else bytesPer * meta.samplesPerPixel
  private val rowBytes = window.width * pixBytes
  private val bandOff = if (planar) 0 else band * bytesPer
  private val buf: java.nio.ByteBuffer = {
    val arr =
      if (meta.tiled) StripDecode.readTiledWindow(meta, window, bytesPer, plane)
      // predictor 2 stores row deltas from COLUMN 0, so a window read that
      // skips columns cannot undo it — an uncompressed predictor-2 strip
      // (legal: some writers strip the codec but keep the predictor) must
      // take the full-strip decode path, not the raw seek-read
      else if (meta.compression == 1 && meta.predictor == 1)
        StripDecode.readRawWindow(meta, window, bytesPer, plane)
      else StripDecode.readCompressedWindow(meta, window, bytesPer, plane)
    java.nio.ByteBuffer.wrap(arr).order(
      if (meta.littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
  }

  private def idx(x: Int, y: Int): Int = y * rowBytes + x * pixBytes + bandOff

  /** Integer sample: unsigned widths zero-extend, signed widths
    * sign-extend, 32-bit returns raw bits (the caller widens u32 with
    * & 0xffffffffL).
    */
  def getSample(x: Int, y: Int): Int = {
    val i = idx(x, y)
    (meta.bitsPerSample, meta.sampleFormat) match {
      case (8, 2) => buf.get(i).toInt
      case (8, _) => buf.get(i) & 0xff
      case (16, 2) => buf.getShort(i).toInt
      case (16, _) => buf.getShort(i) & 0xffff
      case (32, _) => buf.getInt(i)
      case (b, f) => throw new IllegalStateException(
        s"${meta.path}: unsupported TIFF integer layout bits=$b format=$f")
    }
  }

  def getSampleFloat(x: Int, y: Int): Float =
    if (meta.sampleFormat == 3 && meta.bitsPerSample == 32) buf.getFloat(idx(x, y))
    else getSample(x, y).toFloat

  def getSampleDouble(x: Int, y: Int): Double =
    if (meta.sampleFormat == 3 && meta.bitsPerSample == 64) buf.getDouble(idx(x, y))
    else if (meta.sampleFormat == 3) getSampleFloat(x, y).toDouble
    else getSample(x, y).toDouble
}

/** How raster `sec` samples the mask grid of a zip: the ONE composition
  * mask pixel centroid → `lonOf`/`latOf` → CRS transform (when one
  * applies) → the secondary's `fracColOf`/`fracRowOf` ([[frac]]). Coverage
  * validation ([[requireCovers]]), mask block sizing ([[blockBound]]),
  * per-window read bounds ([[readWindow]]) and the per-pixel sampler all
  * go through it, so planning and reading cannot drift. A raster is
  * `sampled` only under resample=nearest, when its grid differs from the
  * mask's or a supported CRS transform applies; otherwise it zips
  * positionally (the mask's own map included).
  */
private[graft] final class SecondaryMap(mask: TiffTags.RasterMeta, sec: TiffTags.RasterMeta,
    resampleNearest: Boolean, datumBridge: String) {

  /** Cross-CRS transform (round 15): Some only under resample=nearest for
    * a declared, distinct, supported EPSG pair.
    */
  val crs: Option[(Double, Double) => (Double, Double)] =
    if (resampleNearest) CrsTransform.zipTransform(mask, sec, datumBridge) else None

  val sampled: Boolean = resampleNearest && (crs.isDefined || !mask.sameGrid(sec))

  // read windows of a cross-CRS pair are padded by 2 cells per side for
  // the curvature between their 16 boundary samples per edge
  private val pad = if (crs.isEmpty) 0 else 2

  /** Fractional secondary (col, row) of mask pixel (c, r)'s centroid. */
  def frac(c: Double, r: Double): (Double, Double) = {
    val gx = mask.lonOf(c, r)
    val gy = mask.latOf(c, r)
    crs match {
      case None => (sec.fracColOf(gx, gy), sec.fracRowOf(gx, gy))
      case Some(t) =>
        val (sx, sy) = t(gx, gy)
        (sec.fracColOf(sx, sy), sec.fracRowOf(sx, sy))
    }
  }

  /** Mask pixels on the boundary of the centroid rectangle [c0, c1] ×
    * [r0, r1], one sequence per edge. An affine pair maps the rectangle to
    * a parallelogram whose extrema are exactly its corners, so the corners
    * suffice; a cross-CRS map is smooth and injective over the supported
    * domains (a diffeomorphism within a UTM zone), so the image of the
    * boundary bounds the interior — sampled at k + 1 points per edge.
    */
  private def edges(c0: Double, r0: Double, c1: Double, r1: Double, k: Int)
      : Seq[IndexedSeq[(Double, Double)]] =
    if (crs.isEmpty) Seq(IndexedSeq((c0, r0), (c0, r1), (c1, r0), (c1, r1)))
    else {
      val cs = (0 to k).map(j => c0 + (c1 - c0) * j / k)
      val rs = (0 to k).map(j => r0 + (r1 - r0) * j / k)
      Seq(cs.map((_, r0)), cs.map((_, r1)), rs.map((c0, _)), rs.map((c1, _)))
    }

  /** Every mask centroid must land inside the secondary — clamping at read
    * time would silently substitute edge values, so a coverage hole is a
    * typed error instead.
    */
  def requireCovers(): Unit = if (sampled) {
    val es = edges(0.0, 0.0, (mask.width - 1).toDouble, (mask.height - 1).toDouble, 64)
    if (crs.isEmpty) {
      // affine pair: a plain in-bounds check of the corners is complete —
      // no inter-sample gap exists
      es.flatten.foreach { case (c, r) =>
        val (p, q) = frac(c, r)
        require(p >= 0 && p < sec.width && q >= 0 && q < sec.height,
          s"resample=nearest: ${sec.path} does not cover the mask grid of ${mask.path} — " +
            f"mask centroid at pixel (${c.toInt}, ${r.toInt}) maps to fractional pixel " +
            f"($p%.3f, $q%.3f) outside ${sec.width}x${sec.height}")
      }
    } else {
      // cross-CRS, 64 points per edge. Inward MARGIN (round-16 advice): a
      // centroid BETWEEN samples can bow past the sampled chord by the
      // curve's sagitta; a secondary that only just covers the mask would
      // pass a zero-margin check and then silently clamp that centroid to
      // an edge cell at read time — the exact substitution this gate
      // exists to prevent. The sagitta is bounded by the measured per-edge
      // second difference of the samples themselves (sagitta ≈ κh²/8 vs
      // second diff ≈ κh² — a 4–8× safety factor), so exact-coverage edge
      // cases fail loudly.
      val images = es.map(_.map { case (c, r) => frac(c, r) })
      val secondDiff = images.iterator.flatMap(_.sliding(3).map {
        case Seq((p0, q0), (p1, q1), (p2, q2)) =>
          math.max(math.abs(p0 - 2 * p1 + p2), math.abs(q0 - 2 * q1 + q2))
        case _ => 0.0
      }).foldLeft(0.0)(math.max)
      val margin = secondDiff + 1e-9 * math.max(sec.width, sec.height).toDouble
      images.flatten.foreach { case (p, q) =>
        require(p >= margin && p < sec.width - margin &&
          q >= margin && q < sec.height - margin,
          s"resample=nearest: ${sec.path} does not cover the mask grid of ${mask.path} " +
            f"with the required inter-sample-curvature margin ($margin%.6f px) — " +
            f"a mask centroid maps to fractional pixel ($p%.3f, $q%.3f) of " +
            s"${sec.width}x${sec.height}; a centroid between boundary samples could " +
            "land outside and be silently clamped to an edge cell")
      }
    }
  }

  /** Secondary cells spanned per mask pixel step, the larger of the two
    * axes: the images of the mask's unit col and row steps, summed. An
    * affine pair's unit-step image is constant, so one sample point
    * suffices; a cross-CRS map's varies (TM scale drifts <0.1% across a
    * zone), so the corners + center are sampled and the max padded 0.5% —
    * read windows come from actual mapped bounds either way, so this only
    * sizes mask windows.
    */
  lazy val growth: Double = {
    val (c1, r1) = ((mask.width - 1).toDouble, (mask.height - 1).toDouble)
    val pts: Seq[(Double, Double)] =
      if (crs.isEmpty) Seq((0.0, 0.0))
      else Seq((0.0, 0.0), (c1, 0.0), (0.0, r1), (c1, r1), (c1 / 2.0, r1 / 2.0))
    val scale = if (crs.isEmpty) 1.0 else 1.005
    scale * pts.map { case (c, r) =>
      val (p, q) = frac(c, r)
      val (pc, qc) = frac(c + 1.0, r) // one mask COL step on
      val (pr, qr) = frac(c, r + 1.0) // one mask ROW step on
      math.max(math.abs(pc - p) + math.abs(pr - p), math.abs(qc - q) + math.abs(qr - q))
    }.max
  }

  /** Largest mask block whose read windows stay ≤ maxBlockSize cells per
    * side. Post-floor cell-count proof (round-15 review — this CORRECTS the
    * round-14 advice's off-by-one claim): a read window is bounded by the
    * centroid images of the window's FIRST and LAST pixels, i.e. (B−1)
    * unit steps, so cells = floor(max) − floor(min) + 1 ≤ span + 1 ≤
    * growth·(B−1) + 1 ≤ maxBlockSize − (growth − 1) ≤ maxBlockSize for
    * B = floor(maxBlockSize / growth) whenever growth > 1 — the flooring
    * excess is absorbed by the (B−1) slack, no −1 needed. Padded read
    * windows shrink the budget by their pad on both sides to keep the same
    * contract (the sampled-growth model, with its 0.5% factor, covers the
    * inter-sample scale drift).
    */
  def blockBound(maxBlockSize: Int): Int =
    if (!sampled || growth <= 1.0) maxBlockSize
    else math.max(1, math.floor(math.max(1, maxBlockSize - 2 * pad) / growth).toInt)

  /** The secondary window mask window `w` reads: `w` itself unless
    * sampled — then the bounding window of `w`'s centroid images (16
    * samples per edge across CRSs, plus the pad), clamped to the raster;
    * coverage was validated at planning. Memory stays O(window) per
    * raster: a coarser secondary reads a SMALLER window, a k×-finer one
    * reads ≤ k× the mask window (the planner's [[blockBound]] shrink).
    */
  def readWindow(w: TiffWindow): TiffWindow =
    if (!sampled) w
    else {
      val fracs = edges(w.colOff.toDouble, w.rowOff.toDouble,
        (w.colOff + w.width - 1).toDouble, (w.rowOff + w.height - 1).toDouble, 16)
        .flatten.map { case (c, r) => frac(c, r) }
      val c0 = math.min(math.max(math.floor(fracs.map(_._1).min).toInt - pad, 0), sec.width - 1)
      val c1 = math.min(math.max(math.floor(fracs.map(_._1).max).toInt + pad, 0), sec.width - 1)
      val r0 = math.min(math.max(math.floor(fracs.map(_._2).min).toInt - pad, 0), sec.height - 1)
      val r1 = math.min(math.max(math.floor(fracs.map(_._2).max).toInt + pad, 0), sec.height - 1)
      TiffWindow(c0, r0, c1 - c0 + 1, r1 - r0 + 1)
    }
}

/** Reads one window of every (non-pruned) raster and streams the valid
  * pixels of raster 1 as rows. Region reads keep memory at O(window), and
  * each raster is decoded at most once per task.
  */
class GeoTiffPartitionReader(
    metas: Array[TiffTags.RasterMeta],
    colNames: Array[String],
    required: StructType,
    window: TiffWindow,
    calcArea: Boolean,
    bands: Array[Int],
    resampleNearest: Boolean,
    datumBridge: String)
  extends PartitionReader[InternalRow] {

  private val m0 = metas(0)
  private val fieldNames = required.fieldNames
  // which rasters must actually be decoded: raster 0 always (mask), others
  // only when their column survived pruning
  private val valueIdx: Array[Int] = metas.indices
    .filter(i => i == 0 || fieldNames.contains(colNames(i))).toArray

  // how each raster samples the mask grid (the mask's own map is the
  // positional identity), rebuilt here from the metas (the factory ships
  // no lambdas), identical to the planner's
  private val maps: Array[SecondaryMap] =
    metas.map(new SecondaryMap(m0, _, resampleNearest, datumBridge))

  private val readWindows: Array[TiffWindow] = maps.map(_.readWindow(window))

  private lazy val rasters: Array[RawStripGrid] = {
    val arr = new Array[RawStripGrid](metas.length)
    valueIdx.foreach(i => arr(i) = new RawStripGrid(metas(i), readWindows(i), bands(i) - 1))
    arr
  }

  private val types: Array[DataType] = metas.map(GeoTiffTable.sparkType)
  private var r = 0
  private var c = -1
  private var current: InternalRow = _

  private def sampleValue(i: Int, x: Int, y: Int): Any = {
    val ras = rasters(i)
    types(i) match {
      case FloatType => ras.getSampleFloat(x, y)
      case DoubleType => ras.getSampleDouble(x, y)
      case ByteType => ras.getSample(x, y).toByte
      case ShortType => ras.getSample(x, y).toShort
      case IntegerType => ras.getSample(x, y)
      case LongType => ras.getSample(x, y).toLong & 0xffffffffL
      case t => throw new IllegalStateException(s"unexpected type $t")
    }
  }

  /** NoData test at the FIRST raster's native precision — comparing the
    * raw double sample would miss (a) f32 nodata whose ASCII form is not
    * the float's exact decimal expansion, and (b) unsigned-32 nodata
    * >= 2^31, which getSampleDouble sign-extends.
    */
  private lazy val maskedAt: (Int, Int) => Boolean = m0.noData match {
    case None => (_, _) => false
    case Some(nd) => types(0) match {
      case FloatType =>
        val ndF = nd.toFloat
        (x, y) => { val v = rasters(0).getSampleFloat(x, y); v == ndF || (ndF.isNaN && v.isNaN) }
      case DoubleType =>
        (x, y) => { val v = rasters(0).getSampleDouble(x, y); v == nd || (nd.isNaN && v.isNaN) }
      case ByteType => (x, y) => rasters(0).getSample(x, y).toByte.toDouble == nd
      case ShortType => (x, y) => rasters(0).getSample(x, y).toShort.toDouble == nd
      case IntegerType => (x, y) => rasters(0).getSample(x, y).toDouble == nd
      case LongType => (x, y) => (rasters(0).getSample(x, y).toLong & 0xffffffffL).toDouble == nd
      case t => throw new IllegalStateException(s"unexpected type $t")
    }
  }

  /** One extractor per required field, resolved ONCE — the per-pixel loop
    * must not do string comparisons or name lookups (this runs per valid
    * pixel, millions of times per task).
    */
  // same affine math under either CRS naming; resolved by the table's
  // single point of truth so reader and schema cannot drift
  private val (xName, yName) = GeoTiffTable.coordNames(m0)

  private lazy val extractors: Array[(Int, Int) => Any] = fieldNames.map { f =>
    if (f == xName)
      (x: Int, y: Int) => java.lang.Double.valueOf(
        m0.lonOf((window.colOff + x).toDouble, (window.rowOff + y).toDouble))
    else if (f == yName)
      (x: Int, y: Int) => java.lang.Double.valueOf(
        m0.latOf((window.colOff + x).toDouble, (window.rowOff + y).toDouble))
    else if (f == "area" && calcArea)
      // full-affine area (round-15): delegates to the historical trapezoid
      // bit-for-bit when rotX = rotY = 0, so axis-aligned outputs are
      // unchanged; on rotated grids the centroid latitude varies per COLUMN
      // too, which latOf already carries
      (x: Int, y: Int) => java.lang.Double.valueOf(
        GeoMath.pixelAreaAffineM2(
          m0.latOf((window.colOff + x).toDouble, (window.rowOff + y).toDouble),
          m0.pixelScaleX, m0.pixelScaleY, m0.rotX, m0.rotY))
    else {
      val i = colNames.indexOf(f)
      require(i >= 0, s"unknown required column $f")
      valueExtractor(i)
    }
  }

  /** Value extractor for raster i: window-relative identity on matching
    * grids; under resample=nearest with a different grid or CRS, each mask
    * pixel's centroid maps through [[SecondaryMap.frac]] and samples the
    * CELL containing it (floor of the fractional index — standard
    * nearest-neighbor regridding).
    */
  private def valueExtractor(i: Int): (Int, Int) => Any = {
    val sm = maps(i)
    if (!sm.sampled) {
      (x: Int, y: Int) => sampleValue(i, x, y)
    } else {
      val rw = readWindows(i)
      (x: Int, y: Int) => {
        val pq = sm.frac((window.colOff + x).toDouble, (window.rowOff + y).toDouble)
        // clamp into the read window: coverage was validated at planning,
        // so this only absorbs last-ulp boundary wobble
        val cs = math.min(math.max(math.floor(pq._1).toInt - rw.colOff, 0), rw.width - 1)
        val rs = math.min(math.max(math.floor(pq._2).toInt - rw.rowOff, 0), rw.height - 1)
        sampleValue(i, cs, rs)
      }
    }
  }

  override def next(): Boolean = {
    while (true) {
      c += 1
      if (c >= window.width) { c = 0; r += 1 }
      if (r >= window.height) return false
      if (!maskedAt(c, r)) {
        val values = new Array[Any](extractors.length)
        var i = 0
        while (i < extractors.length) { values(i) = extractors(i)(c, r); i += 1 }
        current = new GenericInternalRow(values)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}
