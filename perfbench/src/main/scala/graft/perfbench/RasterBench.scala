package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}

import graft.Raster
import graft.functions.GeoMath
import graft.sources.tiff.{CrsTransform, GeoTiffPartition, StripDecode, TiffTags, TiffWindow}

import TiffGen._

/** What both raster workloads share: seeded inputs, the scan-shape check
  * and the per-layer probes of the reader.
  */
abstract class RasterWorkload(seed: Long) extends Workload {
  val pattern: Pattern = Pattern.fromSeed(seed)
  def maskGrid: Grid
  def block: Int
  def calcArea: Boolean
  def resample: String
  /** Columns the timed frame must read: anything less is the count() shape. */
  def frameColumns: Seq[String]
  /** Writes the inputs into `dir`; returns the mask and secondary paths. */
  def writeInputs(dir: File): (String, String)

  def mpx: Double = maskGrid.width.toDouble * maskGrid.height / 1e6
  val setupReps = 3
  protected var mask = ""
  protected var sec = ""

  def frame(ctx: Ctx): DataFrame =
    Raster.raster2df(ctx.spark, Seq(mask, sec), Seq("mask", "sec"), maxBlockSize = block,
      calcArea = calcArea, resample = resample)

  protected def makeInputs(ctx: Ctx): Unit = {
    val dir = ctx.workDir.resolve("inputs").toFile
    dir.mkdirs()
    val (m, s) = writeInputs(dir)
    mask = m; sec = s
  }

  /** Pixels of the mask that hold data, in closed form: every row has
    * exactly `8 - q` valid pixels in each run of 8 (the column step is odd).
    */
  def expectedPoints: Long = {
    require(maskGrid.width % 8 == 0, "mask width must be a multiple of 8")
    maskGrid.width.toLong / 8 * (8 - pattern.q) * maskGrid.height
  }

  /** Fails the op when the executed scan reads fewer columns than the frame has. */
  protected def checkScan(ctx: Ctx, qe: Option[org.apache.spark.sql.execution.QueryExecution]): Unit = {
    val cols = qe.toSeq.flatMap(q => PlanShape.scans(q.executedPlan)).flatMap(_.output.map(_.name))
    ctx.check(cols.sorted == frameColumns.sorted,
      s"$name: the timed scan read columns [${cols.mkString(", ")}], expected all of " +
        s"[${frameColumns.mkString(", ")}]")
    ()
  }

  // ---- per-layer probes (traced run only) ----

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  private def windowsOf(df: DataFrame): Seq[TiffWindow] = {
    PlanShape.scans(df.queryExecution.executedPlan).flatMap(_.inputPartitions).collect {
      case GeoTiffPartition(w) => w
    }
  }

  /** Chunk decode of every window of the mask, as the BigTIFF reader does
    * it for tiles: the `tiff.decode.*` metrics. The reader sends classic
    * files through ImageIO, never through `StripDecode`, so they read 0 for
    * a classic mask.
    */
  private def decodeProbe(tr: Tracer, meta: TiffTags.RasterMeta, wins: Seq[TiffWindow])
      : Seq[(String, Double)] = {
    val names = Seq("tiff.decode.ms", "tiff.decode.bytes_in", "tiff.decode.bytes_out",
      "tiff.decode.mb_per_s", "tiff.decode.read_amplification")
    if (!meta.bigTiff) names.map(_ -> 0.0)
    else {
      require(meta.tiled, s"${meta.path}: the decode probe covers tiled masks only")
      val bytesPer = meta.bitsPerSample / 8
      val ms = tr.span("StripDecode.readTiledWindow")(timeMs {
        wins.foreach(w => StripDecode.readTiledWindow(meta, w, bytesPer))
      })
      val across = (meta.width + meta.tileWidth - 1) / meta.tileWidth
      val chunks = wins.flatMap { w =>
        for {
          row <- w.rowOff / meta.tileLength to (w.rowOff + w.height - 1) / meta.tileLength
          col <- w.colOff / meta.tileWidth to (w.colOff + w.width - 1) / meta.tileWidth
        } yield row * across + col
      }
      val in = chunks.map(meta.tileByteCounts).sum
      val out = chunks.size.toLong * meta.tileWidth * meta.tileLength * bytesPer
      val needed = wins.map(w => w.width.toLong * w.height * bytesPer).sum
      names.zip(Seq(ms, in.toDouble, out.toDouble, out / 1e6 / (ms / 1e3), out.toDouble / needed))
    }
  }

  /** ImageIO region reads of every window, as the reader does for classic files. */
  private def imageioProbe(metas: Seq[TiffTags.RasterMeta], wins: Seq[TiffWindow]): Double =
    if (metas.forall(_.bigTiff)) 0.0
    else timeMs {
      for (m <- metas if !m.bigTiff; w <- wins) {
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("tiff").next()
        val iis = javax.imageio.ImageIO.createImageInputStream(new File(m.path))
        try {
          reader.setInput(iis)
          val p = reader.getDefaultReadParam
          p.setSourceRegion(new java.awt.Rectangle(w.colOff, w.rowOff, w.width, w.height))
          reader.read(m.imageIndex, p).getRaster
        } finally { reader.dispose(); iis.close() }
      }
    }

  @volatile private var blackhole = 0.0

  def layers(ctx: Ctx, passes: Seq[Seq[OpStat]]): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val tagsMs = Stats.median((1 to 9).map(_ => timeMs(tr.span("TiffTags.read") {
      TiffTags.read(mask); TiffTags.read(sec); ()
    })))
    val planMs = Stats.median((1 to 5).map(_ => timeMs(tr.span("raster.plan") {
      planTarget(frame(ctx)).queryExecution.executedPlan; ()
    })))
    val m0 = TiffTags.read(mask)
    val m1 = TiffTags.read(sec)
    val wins = windowsOf(frame(ctx))
    val decodeMetrics = decodeProbe(tr, m0, wins)
    val imageioMs = tr.span("imageio.region")(imageioProbe(Seq(m0, m1), wins))
    val t = CrsTransform.zipTransform(m0, m1)
    val crsNs = t.fold(0.0) { f =>
      tr.span("CrsTransform.zipTransform") {
        val t0 = System.nanoTime()
        var acc = 0.0
        var r = 0
        while (r < m0.height) {
          var c = 0
          while (c < m0.width) {
            val (x, y) = f(m0.lonOf(c.toDouble, r.toDouble), m0.latOf(c.toDouble, r.toDouble))
            acc += x + y
            c += 1
          }
          r += 1
        }
        blackhole = acc
        (System.nanoTime() - t0).toDouble / (m0.width.toLong * m0.height)
      }
    }
    val areaNs = if (!calcArea) 0.0 else tr.span("GeoMath.pixelAreaM2") {
      val t0 = System.nanoTime()
      var acc = 0.0
      var n = 0L
      var r = 0
      while (r < m0.height) {
        var c = 0
        while (c < m0.width) {
          if (!pattern.masked(c, r)) {
            acc += GeoMath.pixelAreaAffineM2(m0.latOf(c.toDouble, r.toDouble),
              m0.pixelScaleX, m0.pixelScaleY, m0.rotX, m0.rotY)
            n += 1
          }
          c += 1
        }
        r += 1
      }
      blackhole = acc
      (System.nanoTime() - t0).toDouble / n
    }
    // the same frame, all columns, through the noop sink
    val noop = (1 to 3).map { _ =>
      val before = ctx.probe.snapshot()
      val (_, st, qe) = ctx.op("scan.noop")(frame(ctx))(
        _.write.format("noop").mode("overwrite").save())
      checkScan(ctx, qe)
      (st.wall, ctx.probe.snapshot() - before)
    }
    val noopS = Stats.median(noop.map(_._1))
    val noopTotals = noop.map(_._2)
    val taskMs = noopTotals.flatMap(_.taskMs).map(_.toDouble)
    val coreUtil = Stats.median(noop.map { case (wall, d) => d.taskMs.sum / 1000.0 / (wall * ctx.cores) })
    val passWall = Main.passSeconds(passes)
    val rows = expectedPoints.toDouble
    Seq(
      "tiff.tags.read_ms" -> tagsMs,
      "raster.plan_ms" -> planMs,
      "tiff.imageio.ms" -> imageioMs,
      "crs.ns_per_point" -> crsNs,
      "geomath.area_ns_per_row" -> areaNs,
      "scan.noop_s" -> noopS,
      "scan.rows_out" -> rows,
      "scan.useful_ratio" -> rows / (maskGrid.width.toDouble * maskGrid.height),
      "scan.windows" -> wins.size.toDouble,
      "scan.task_p50_ms" -> Stats.median(taskMs),
      "scan.task_max_ms" -> taskMs.max,
      "scan.core_util" -> coreUtil,
      "raster.mpx_per_s" -> mpx / passWall
    ) ++ decodeMetrics ++ sinkOrZonal(ctx, passWall, noopS)
  }

  /** The frame whose executed plan [[layers]] times. */
  protected def planTarget(df: DataFrame): DataFrame = df
  /** The workload's own layer: the CSV sink or the zonal aggregate. */
  protected def sinkOrZonal(ctx: Ctx, passWall: Double, noopS: Double): Seq[(String, Double)]
}

/** The reference CLI path: classic f32 mask plus a same-grid int16
  * secondary, both uncompressed strips, exported to CSV with pixel areas.
  */
final class RasterExport(seed: Long, val maskGrid: Grid = RasterExport.grid)
    extends RasterWorkload(seed) {
  val name = "raster_export"
  val block = 256
  val calcArea = true
  val resample = ""
  val frameColumns: Seq[String] = Seq("lon", "lat", "mask", "sec", "area")
  private def out(ctx: Ctx) = ctx.workDir.resolve("csv").toString

  def writeInputs(dir: File): (String, String) = {
    val layout = Layout(bigTiff = false, rowsPerStrip = 16)
    val m = new File(dir, "mask.tif").getPath
    val s = new File(dir, "sec.tif").getPath
    write(m, maskGrid, F32, layout, Some(NoDataText), pattern.maskSample)
    write(s, maskGrid, S16, layout, None, (c, r) => pattern.secondary(c, r).toDouble)
    (m, s)
  }

  lazy val expected: RasterExport.Sums = {
    var n, mk, sc, cs, rs = 0L
    var r = 0
    while (r < maskGrid.height) {
      var c = 0
      while (c < maskGrid.width) {
        if (!pattern.masked(c, r)) {
          n += 1; mk += pattern.value(c, r); sc += pattern.secondary(c, r); cs += c; rs += r
        }
        c += 1
      }
      r += 1
    }
    require(n == expectedPoints, s"generator count $n disagrees with the closed form $expectedPoints")
    // every row holds the same number of valid pixels, so the per-row zone
    // integrals telescope to the raster's top and bottom edges
    val top = maskGrid.originY
    val bottom = maskGrid.originY - maskGrid.height * maskGrid.ps
    val perRow = expectedPoints / maskGrid.height
    val area = perRow * math.toRadians(maskGrid.ps) *
      math.abs(GeoMath.zoneIntegral(top) - GeoMath.zoneIntegral(bottom))
    // coordinates follow from the index sums: lon = x0 + (c + 1/2) ps
    RasterExport.Sums(n, mk, sc, n * maskGrid.originX + maskGrid.ps * (cs + 0.5 * n),
      n * maskGrid.originY - maskGrid.ps * (rs + 0.5 * n), area)
  }

  private def export(ctx: Ctx): Unit =
    Raster.raster2csv(ctx.spark, Seq(mask, sec), out(ctx), colNames = Seq("mask", "sec"),
      maxBlockSize = block, calcArea = true)

  def setup(ctx: Ctx): Unit = { makeInputs(ctx); export(ctx) }
  def prepare(ctx: Ctx): Unit = { expected; () }

  def pass(ctx: Ctx, p: Int): Seq[OpStat] = {
    val before = ctx.probe.snapshot()
    val (_, st, qe) = ctx.op("Raster.raster2csv")(())(_ => export(ctx))
    val written = (ctx.probe.snapshot() - before).recordsWritten
    ctx.check(written == expectedPoints,
      s"$name pass $p: the CSV sink wrote $written records, expected $expectedPoints")
    checkScan(ctx, qe)
    Seq(st)
  }

  /** Reads the last pass's CSV back and compares it with the closed forms. */
  override def finish(ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions._
    val got = ctx.spark.read.option("header", true)
      .schema("lon DOUBLE, lat DOUBLE, mask DOUBLE, sec LONG, area DOUBLE").csv(out(ctx))
      .agg(count(lit(1)), sum("mask"), sum("sec"), sum("lon"), sum("lat"), sum("area"))
      .head()
    checkSums(ctx, got, expected)
  }

  def checkSums(ctx: Ctx, got: Row, want: RasterExport.Sums): Boolean = {
    val ok = got.getLong(0) == want.n && got.getDouble(1) == want.mask.toDouble &&
      got.getLong(2) == want.sec &&
      Stats.relErr(got.getDouble(3), want.lon) < 1e-9 &&
      Stats.relErr(got.getDouble(4), want.lat) < 1e-9 &&
      Stats.relErr(got.getDouble(5), want.area) < 1e-9
    ctx.check(ok, s"$name: sums read back as $got, expected $want")
  }

  protected def sinkOrZonal(ctx: Ctx, passWall: Double, noopS: Double): Seq[(String, Double)] = {
    val before = ctx.probe.snapshot()
    pass(ctx, -1)
    val d = ctx.probe.snapshot() - before
    val files = Option(new File(out(ctx)).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("part-"))
    Seq(
      "sink.extra_s" -> (passWall - noopS),
      "sink.bytes_written" -> d.bytesWritten.toDouble,
      "sink.records_written" -> d.recordsWritten.toDouble,
      "sink.files" -> files.toDouble,
      "sink.bytes_per_point" -> d.bytesWritten.toDouble / expectedPoints,
      "zonal.agg_ms" -> 0.0, "zonal.shuffle_write_bytes" -> 0.0, "zonal.cells" -> 0.0)
  }
}

object RasterExport {
  // 2^-10 degree pixels keep every centroid coordinate exact in binary
  val grid: Grid = Grid(1024, 1024, 10.0, 50.0, 1.0 / 1024, wgs84)

  /** Expected sums over valid pixels: count, mask, secondary, coordinates, area. */
  final case class Sums(n: Long, mask: Long, sec: Long, lon: Double, lat: Double, area: Double)
}

/** The analysis path: a tiled DEFLATE + predictor-3 BigTIFF mask in
  * EPSG:4326 zipped with a UTM secondary through the cross-CRS transform,
  * reduced by zonal statistics to a small result.
  */
final class RasterZonal(seed: Long, val maskGrid: Grid = RasterZonal.grid)
    extends RasterWorkload(seed) {
  val name = "raster_zonal"
  val zone = 33
  val secPs = 100.0
  val cellDeg = 1.0 / 32
  val block = 256
  val calcArea = false
  val resample = "nearest"
  val frameColumns: Seq[String] = Seq("lon", "lat", "mask", "sec")

  /** The secondary's UTM grid: the mask footprint plus a 2 km margin. */
  lazy val secGrid: Grid = {
    val tm = CrsTransform.utmParams(32600 + zone).get
    val g = maskGrid
    val k = 64
    val edge = (0 to k).flatMap { i =>
      val f = i.toDouble / k
      Seq((g.originX + f * g.width * g.ps, g.originY),
        (g.originX + f * g.width * g.ps, g.originY - g.height * g.ps),
        (g.originX, g.originY - f * g.height * g.ps),
        (g.originX + g.width * g.ps, g.originY - f * g.height * g.ps))
    }.map { case (lon, lat) => tm.fwd(lon, lat) }
    val margin = 2000.0
    val x0 = math.floor((edge.map(_._1).min - margin) / secPs) * secPs
    val y1 = math.ceil((edge.map(_._2).max + margin) / secPs) * secPs
    val w = math.ceil((edge.map(_._1).max + margin - x0) / secPs).toInt
    val h = math.ceil((y1 - (edge.map(_._2).min - margin)) / secPs).toInt
    Grid(w, h, x0, y1, secPs, utmNorth(zone))
  }

  def writeInputs(dir: File): (String, String) = {
    val m = new File(dir, "mask_cog.tif").getPath
    val s = new File(dir, "sec_utm.tif").getPath
    write(m, maskGrid, F32, Layout(bigTiff = true, tile = 256, deflate = true, predictor = 3),
      Some(NoDataText), pattern.maskSample)
    write(s, secGrid, S16, Layout(bigTiff = true, rowsPerStrip = 16), None,
      (c, r) => pattern.secondary(c, r).toDouble)
    (m, s)
  }

  /** Per-cell aggregates from the generator. Mask values are closed-form per
    * pixel; each secondary value is the generator's cell that holds the
    * mask centroid mapped through `CrsTransform.zipTransform`, so this checks
    * the reader's windowing and sampling, not the transform itself.
    */
  lazy val expected: Map[(Double, Double), RasterZonal.Cell] = {
    val m0 = TiffTags.read(mask)
    val m1 = TiffTags.read(sec)
    val t = CrsTransform.zipTransform(m0, m1).get
    val cells = scala.collection.mutable.HashMap[(Double, Double), RasterZonal.Cell]()
    var r = 0
    while (r < m0.height) {
      var c = 0
      while (c < m0.width) {
        if (!pattern.masked(c, r)) {
          val lon = m0.lonOf(c.toDouble, r.toDouble)
          val lat = m0.latOf(c.toDouble, r.toDouble)
          val (sx, sy) = t(lon, lat)
          val sc = math.floor(m1.fracColOf(sx, sy)).toInt
          val sr = math.floor(m1.fracRowOf(sx, sy)).toInt
          val v = pattern.value(c, r)
          val s = pattern.secondary(sc, sr)
          val key = (math.floor(lon / cellDeg) * cellDeg, math.floor(lat / cellDeg) * cellDeg)
          val e = cells.getOrElse(key, RasterZonal.Cell(0, 0, Int.MaxValue, Int.MinValue, 0, Int.MaxValue, Int.MinValue))
          cells(key) = RasterZonal.Cell(e.n + 1, e.maskSum + v, math.min(e.maskMin, v), math.max(e.maskMax, v),
            e.secSum + s, math.min(e.secMin, s), math.max(e.secMax, s))
        }
        c += 1
      }
      r += 1
    }
    cells.toMap
  }

  def zonal(ctx: Ctx): DataFrame = Raster.zonalStats(frame(ctx), cellDeg)
  override protected def planTarget(df: DataFrame): DataFrame = Raster.zonalStats(df, cellDeg)

  def setup(ctx: Ctx): Unit = { makeInputs(ctx); zonal(ctx).collect(); () }
  def prepare(ctx: Ctx): Unit = { expected; () }

  def pass(ctx: Ctx, p: Int): Seq[OpStat] = {
    val (rows, st, qe) = ctx.op("Raster.zonalStats")(zonal(ctx))(_.collect())
    checkCells(ctx, rows.toSeq, expected)
    checkScan(ctx, qe)
    Seq(st)
  }

  /** Compares every returned cell with the expected aggregates. */
  def checkCells(ctx: Ctx, rows: Seq[Row], want: Map[(Double, Double), RasterZonal.Cell]): Boolean = {
    def cellOk(r: Row): Boolean = want.get((r.getAs[Double]("cell_lon"), r.getAs[Double]("cell_lat"))).exists { e =>
      r.getAs[Long]("n_pixels") == e.n && r.getAs[Long]("mask_n") == e.n &&
        r.getAs[Float]("mask_min") == e.maskMin && r.getAs[Float]("mask_max") == e.maskMax &&
        Stats.relErr(r.getAs[Double]("mask_mean"), e.maskSum.toDouble / e.n) < 1e-9 &&
        r.getAs[Long]("sec_n") == e.n &&
        r.getAs[Short]("sec_min") == e.secMin && r.getAs[Short]("sec_max") == e.secMax &&
        Stats.relErr(r.getAs[Double]("sec_mean"), e.secSum.toDouble / e.n) < 1e-9
    }
    val bad = rows.filterNot(cellOk)
    ctx.check(rows.size == want.size && bad.isEmpty,
      s"$name: ${rows.size} cells returned (expected ${want.size}); mismatched: ${bad.take(3).mkString("; ")}")
  }

  protected def sinkOrZonal(ctx: Ctx, passWall: Double, noopS: Double): Seq[(String, Double)] = {
    val before = ctx.probe.snapshot()
    val (rows, _, qe) = ctx.op("Raster.zonalStats")(zonal(ctx))(_.collect())
    checkCells(ctx, rows.toSeq, expected)
    checkScan(ctx, qe)
    val d = ctx.probe.snapshot() - before
    Seq(
      "sink.extra_s" -> 0.0, "sink.bytes_written" -> 0.0, "sink.records_written" -> 0.0,
      "sink.files" -> 0.0, "sink.bytes_per_point" -> 0.0,
      "zonal.agg_ms" -> (passWall - noopS) * 1000,
      "zonal.shuffle_write_bytes" -> d.shuffleWriteBytes.toDouble,
      "zonal.cells" -> rows.length.toDouble)
  }
}

object RasterZonal {
  // half a degree square inside UTM zone 33N, 2^-11 degree pixels
  val grid: Grid = Grid(1024, 1024, 14.0, 47.0, 1.0 / 2048, wgs84)

  /** Expected aggregates of one zone cell. */
  final case class Cell(n: Long, maskSum: Long, maskMin: Int, maskMax: Int, secSum: Long,
      secMin: Int, secMax: Int)
}
