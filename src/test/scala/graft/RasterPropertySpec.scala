package graft

import graft.sources.tiff.{CrsTransform, GeoTiffPartition, GeoTiffScan, SecondaryMap, TiffTags}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the affine pixel↔geo mapping (SURVEY §5),
  * driven through scalacheck's engine directly (no scalatestplus bridge in
  * the offline cache).
  */
class RasterPropertySpec extends AnyFunSuite {

  private val metaGen = for {
    w <- Gen.choose(1, 10000)
    h <- Gen.choose(1, 10000)
    originX <- Gen.choose(-180.0, 180.0 - 1e-6)
    originY <- Gen.choose(-89.0, 90.0)
    scale <- Gen.choose(1e-5, 2.0)
  } yield TiffTags.RasterMeta("gen", w, h, 32, 3, scale, scale, originX, originY, None)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("pixel centroid -> lon/lat -> pixel index round-trips exactly") {
    check(Prop.forAll(metaGen, Gen.choose(0, 9999), Gen.choose(0, 9999)) {
      (m, c0, r0) =>
        val c = c0 % m.width
        val r = r0 % m.height
        val cBack = math.floor((m.lonOf(c.toDouble, r.toDouble) - m.originX) / m.pixelScaleX).toInt
        val rBack = math.floor((m.originY - m.latOf(c.toDouble, r.toDouble)) / m.pixelScaleY).toInt
        cBack == c && rBack == r
    })
  }

  test("centroids are strictly inside the raster's geo bounds") {
    check(Prop.forAll(metaGen) { m =>
      val lonMax = m.lonOf((m.width - 1).toDouble, 0.0)
      val latMin = m.latOf(0.0, (m.height - 1).toDouble)
      m.lonOf(0.0, 0.0) > m.originX &&
        lonMax < m.originX + m.width * m.pixelScaleX &&
        m.latOf(0.0, 0.0) < m.originY &&
        latMin > m.originY - m.height * m.pixelScaleY
    })
  }

  /** Rotated grids (round 14): metas carrying nonzero 34264 rotation terms.
    * Rotation magnitude bounded below the diagonal scale so the affine is
    * comfortably invertible (|det| ≥ scale²/2) — the realistic "slightly
    * rotated north-up scene" regime the full-affine reader targets.
    */
  private val rotMetaGen = for {
    w <- Gen.choose(1, 10000)
    h <- Gen.choose(1, 10000)
    originX <- Gen.choose(-180.0, 180.0 - 1e-6)
    originY <- Gen.choose(-89.0, 90.0)
    scale <- Gen.choose(1e-5, 2.0)
    rx <- Gen.choose(-scale / 2, scale / 2)
    ry <- Gen.choose(-scale / 2, scale / 2)
  } yield TiffTags.RasterMeta("gen", w, h, 32, 3, scale, scale, originX, originY,
    None, rotX = rx, rotY = ry)

  test("rotated grid: pixel centroid -> geo -> pixel round-trips through the 2x2 inverse") {
    check(Prop.forAll(rotMetaGen, Gen.choose(0, 9999), Gen.choose(0, 9999)) {
      (m, c0, r0) =>
        val c = c0 % m.width
        val r = r0 % m.height
        val x = m.lonOf(c.toDouble, r.toDouble)
        val y = m.latOf(c.toDouble, r.toDouble)
        // invert [sx rx; ry -sy] * (c+.5, r+.5) = (x-ox, y-oy)
        val det = m.pixelScaleX * (-m.pixelScaleY) - m.rotX * m.rotY
        val dx = x - m.originX
        val dy = y - m.originY
        val cBack = (dx * (-m.pixelScaleY) - dy * m.rotX) / det - 0.5
        val rBack = (m.pixelScaleX * dy - m.rotY * dx) / det - 0.5
        math.abs(cBack - c) < 1e-6 && math.abs(rBack - r) < 1e-6 &&
          math.rint(cBack).toInt == c && math.rint(rBack).toInt == r
    })
  }

  test("rotated grid with zero rotation terms equals the separable mapping bit for bit") {
    check(Prop.forAll(metaGen, Gen.choose(0, 9999), Gen.choose(0, 9999)) {
      (m, c0, r0) =>
        val c = (c0 % m.width).toDouble
        val r = (r0 % m.height).toDouble
        m.lonOf(c, r) == m.originX + (c + 0.5) * m.pixelScaleX &&
          m.latOf(c, r) == m.originY - (r + 0.5) * m.pixelScaleY
    })
  }

  /** Planned mask windows of a resample=nearest zip of `mask` and `sec`. */
  private def plannedWindows(mask: TiffTags.RasterMeta, sec: TiffTags.RasterMeta, block: Int) =
    new GeoTiffScan(Seq(mask, sec), Seq("m", "s"), new org.apache.spark.sql.types.StructType(),
      block, false, Seq(1, 1), Double.NegativeInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.PositiveInfinity, true, "")
      .planInputPartitions().toSeq.map { case GeoTiffPartition(w) => w }

  /** The read-window contract: every planned window's secondary read window
    * is at most `block` cells per side and holds the cell of every mask
    * pixel in the window without the sampler's clamp.
    */
  private def readWindowsHold(mask: TiffTags.RasterMeta, sec: TiffTags.RasterMeta,
      block: Int): Prop = {
    val sm = new SecondaryMap(mask, sec, true, "")
    sm.requireCovers()
    val windows = plannedWindows(mask, sec, block)
    Prop(sm.sampled && windows.map(w => w.width * w.height).sum == mask.width * mask.height) &&
      Prop.all(windows.map { w =>
        val rw = sm.readWindow(w)
        val inside = for (r <- w.rowOff until w.rowOff + w.height;
            c <- w.colOff until w.colOff + w.width) yield {
          val (p, q) = sm.frac(c.toDouble, r.toDouble)
          val (pc, qr) = (math.floor(p).toInt, math.floor(q).toInt)
          pc >= rw.colOff && pc < rw.colOff + rw.width && qr >= rw.rowOff && qr < rw.rowOff + rw.height
        }
        Prop(rw.width <= block && rw.height <= block && inside.forall(identity)) :|
          s"window $w reads $rw (block $block)"
      }: _*)
  }

  test("read windows of a 2x-finer affine secondary stay within the block and hold every sample") {
    val gen = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      originX <- Gen.choose(-170.0, 170.0)
      originY <- Gen.choose(-80.0, 80.0)
      scale <- Gen.choose(1e-4, 0.5)
      // secondary cells west / north of the mask's corner, and spare east / south
      dc <- Gen.choose(0, 3)
      dr <- Gen.choose(0, 3)
      ec <- Gen.choose(0, 3)
      er <- Gen.choose(0, 3)
      block <- Gen.choose(1, 16)
    } yield {
      val half = scale / 2
      (TiffTags.RasterMeta("mask", w, h, 32, 3, scale, scale, originX, originY, None),
        TiffTags.RasterMeta("fine", 2 * w + dc + ec, 2 * h + dr + er, 32, 3, half, half,
          originX - dc * half, originY + dr * half, None),
        block)
    }
    check(Prop.forAllNoShrink(gen) { case (mask, sec, block) => readWindowsHold(mask, sec, block) })
  }

  test("read windows of a 4326 mask on a finer UTM 33N secondary stay within the block and hold every sample") {
    val p33 = CrsTransform.utmParams(32633).get
    val gen = for {
      w <- Gen.choose(1, 30)
      h <- Gen.choose(1, 30)
      lon0 <- Gen.choose(13.0, 15.5)
      lat0 <- Gen.choose(40.0, 60.0)
      scale <- Gen.choose(0.002, 0.05)
      // secondary cell over the mask cell's east-west extent: < 1, so finer
      fine <- Gen.choose(0.25, 0.6)
      // one mask pixel's read window is 5 cells wide with its 2-cell pads
      block <- Gen.choose(5, 24)
    } yield {
      val mask = TiffTags.RasterMeta("mask", w, h, 32, 3, scale, scale, lon0, lat0, None,
        crsModelType = Some(2), epsg = Some(4326))
      // UTM bounds of the mask's outer boundary, with a 3-cell margin
      val cell = fine * scale * 111320.0 * math.cos(math.toRadians(lat0))
      val en = (0 to 64).flatMap { i =>
        val f = i / 64.0
        Seq((f, 0.0), (f, 1.0), (0.0, f), (1.0, f)).map { case (fx, fy) =>
          CrsTransform.forward(p33, lon0 + fx * w * scale, lat0 - fy * h * scale)
        }
      }
      val (e0, e1) = (en.map(_._1).min - 3 * cell, en.map(_._1).max + 3 * cell)
      val (n0, n1) = (en.map(_._2).min - 3 * cell, en.map(_._2).max + 3 * cell)
      (mask, TiffTags.RasterMeta("utm", math.ceil((e1 - e0) / cell).toInt,
        math.ceil((n1 - n0) / cell).toInt, 32, 3, cell, cell, e0, n1, None,
        crsModelType = Some(1), epsg = Some(32633)), block)
    }
    check(Prop.forAllNoShrink(gen) { case (mask, sec, block) => readWindowsHold(mask, sec, block) })
  }
}
