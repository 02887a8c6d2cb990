package graft

import graft.functions.GeoMath
import org.scalatest.funsuite.AnyFunSuite

/** Property checks for the WGS84 geodesic pixel-area formula (SURVEY §5):
  * symmetry, monotonicity, and agreement with the analytic ellipsoid
  * surface area — these pin the constants without access to the reference
  * source.
  */
class GeoMathSpec extends AnyFunSuite {

  // pixel area = difference of two ~1e13 m² zone integrals: cancellation
  // near the poles leaves ~1e-11 relative noise, so compare at 1e-9
  private def relEq(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))

  test("area is symmetric about the equator") {
    for (lat <- Seq(0.5, 10.5, 45.5, 89.5))
      assert(relEq(GeoMath.pixelAreaM2(lat, 1, 1), GeoMath.pixelAreaM2(-lat, 1, 1)))
  }

  test("area decreases monotonically toward the poles") {
    val areas = (0 until 90).map(l => GeoMath.pixelAreaM2(l + 0.5, 1, 1))
    areas.sliding(2).foreach { case Seq(a, b) => assert(b < a) }
  }

  test("1-degree grid sums to the WGS84 ellipsoid surface area") {
    // sum over one column of 1°x1° pixels x 360 columns
    val total = 360.0 * (-90 until 90).map(l => GeoMath.pixelAreaM2(l + 0.5, 1, 1)).sum
    val wgs84SurfaceM2 = 5.10065621724e14 // analytic WGS84 ellipsoid area
    assert(math.abs(total - wgs84SurfaceM2) / wgs84SurfaceM2 < 1e-6,
      s"total=$total expected≈$wgs84SurfaceM2")
  }

  test("equatorial 1-degree pixel area matches spherical first-order value") {
    // ~111.3 km x 111.3 km at the equator, within 1%
    val a = GeoMath.pixelAreaM2(0.5, 1, 1)
    assert(a > 1.21e10 && a < 1.25e10, s"a=$a")
  }

  // ---- affine (rotated-grid) pixel area, round 15 ----

  test("affine area with zero rotation terms equals the trapezoid formula bit for bit") {
    for {
      lat <- Seq(-89.5, -45.5, -0.5, 0.5, 33.5, 89.5)
      sx <- Seq(1e-4, 0.05, 0.5, 1.0)
      sy <- Seq(1e-4, 0.05, 0.5, 1.0)
    } assert(GeoMath.pixelAreaAffineM2(lat, sx, sy, 0.0, 0.0) ==
      GeoMath.pixelAreaM2(lat, sy, sx),
      s"rot=0 affine area diverged from the trapezoid at lat=$lat sx=$sx sy=$sy")
  }

  test("affine area is symmetric about the equator through a rotation") {
    for (lat <- Seq(0.5, 10.5, 45.5, 89.0); rot <- Seq(0.01, 0.2))
      assert(relEq(
        GeoMath.pixelAreaAffineM2(lat, 0.5, 0.5, rot, -rot),
        GeoMath.pixelAreaAffineM2(-lat, 0.5, 0.5, rot, -rot)),
        s"affine area asymmetric at lat=$lat rot=$rot")
  }

  test("pure-rotation pixel area stays within curvature noise of its axis-aligned twin") {
    // rotating a small square pixel about its centroid preserves |det| and
    // the centroid latitude; the ellipsoidal areas differ only in O(h²)
    // curvature terms across the tilt. North-up rotation: the affine is
    // s·[cosθ sinθ; sinθ −cosθ] (rotation ∘ y-flip), i.e. BOTH rot terms
    // share the sign and |det| = s² for every θ.
    for (lat <- Seq(0.5, 45.5, 80.5); thetaDeg <- Seq(10.0, 30.0, 45.0)) {
      val s = 0.05
      val t = math.toRadians(thetaDeg)
      val rotated = GeoMath.pixelAreaAffineM2(lat,
        s * math.cos(t), s * math.cos(t), s * math.sin(t), s * math.sin(t))
      val axis = GeoMath.pixelAreaM2(lat, s, s)
      assert(relEq(rotated, axis, 1e-6), s"lat=$lat theta=$thetaDeg: $rotated vs $axis")
    }
  }

  test("90-degree rotation equals the transposed axis-aligned area") {
    // u = (0, h), v = (w, 0): the parallelogram IS the w×h rectangle again
    for (lat <- Seq(-60.5, 0.5, 45.5); (w, h) <- Seq((0.5, 0.25), (0.02, 0.08))) {
      val a90 = GeoMath.pixelAreaAffineM2(lat, 0.0, 0.0, w, h)
      val axis = GeoMath.pixelAreaM2(lat, h, w)
      assert(relEq(a90, axis, 1e-12), s"lat=$lat: $a90 vs $axis")
    }
  }

  test("rotated band sum matches an independent Simpson integration of the footprint") {
    // The VERDICT r14 task-3 property: a W×H grid of rotated pixels tiles
    // ONE footprint parallelogram; the sum of per-pixel Jacobian areas must
    // equal the footprint's ellipsoidal area computed INDEPENDENTLY — by
    // Simpson integration of w(φ)·M(φ)·N(φ)·cosφ, where w is the
    // trapezoidal lon-width cross-section of the parallelogram and M·N·cosφ
    // is the surface-element factor written from the curvature radii (not
    // from GeoMath.zoneIntegral, so the two sides share no code).
    def footprintArea(latC: Double, totU2: Double, totV2: Double, detDeg2: Double): Double = {
      val bigA = math.max(math.abs(totU2), math.abs(totV2))
      val bigB = math.min(math.abs(totU2), math.abs(totV2))
      val wmax = detDeg2 / bigA
      def widthDeg(phi: Double): Double = {
        val d = math.abs(phi - latC)
        if (d <= (bigA - bigB) / 2) wmax
        else if (d >= (bigA + bigB) / 2) 0.0
        else wmax * ((bigA + bigB) / 2 - d) / bigB
      }
      def mncos(phiDeg: Double): Double = {
        val phi = math.toRadians(phiDeg)
        val s = math.sin(phi)
        val den = 1.0 - GeoMath.E2 * s * s
        (GeoMath.SemiMajorM * (1.0 - GeoMath.E2) / math.pow(den, 1.5)) *
          (GeoMath.SemiMajorM / math.sqrt(den)) * math.cos(phi)
      }
      val lo = latC - (bigA + bigB) / 2
      val hi = latC + (bigA + bigB) / 2
      val n = 40000
      val step = (hi - lo) / n
      var sum = 0.0
      for (i <- 0 to n) {
        val coef = if (i == 0 || i == n) 1.0 else if (i % 2 == 1) 4.0 else 2.0
        sum += coef * widthDeg(lo + i * step) * mncos(lo + i * step)
      }
      math.toRadians(1.0) * math.toRadians(1.0) * sum * step / 3.0
    }
    for ((latC, thetaDeg) <- Seq((45.0, 30.0), (-20.0, 12.0), (70.0, 45.0))) {
      val s = 0.02
      val t = math.toRadians(thetaDeg)
      // north-up rotation family s·[cosθ sinθ; sinθ −cosθ]: |det| = s² ∀θ
      val (u1, u2) = (s * math.cos(t), s * math.sin(t))
      val (v1, v2) = (s * math.sin(t), -s * math.cos(t)) // row step, north-up
      val (nw, nh) = (40, 30)
      // pixel (c, r) centroid offset from the grid centroid
      var sumPix = 0.0
      for (c <- 0 until nw; r <- 0 until nh) {
        val latPix = latC + (c + 0.5 - nw / 2.0) * u2 + (r + 0.5 - nh / 2.0) * v2
        sumPix += GeoMath.pixelAreaAffineM2(latPix, u1, -v2, v1, u2)
      }
      val det = math.abs(u1 * v2 - u2 * v1)
      val oracle = footprintArea(latC, nw * u2, nh * v2, nw * nh * det)
      assert(math.abs(sumPix - oracle) / oracle < 1e-7,
        s"latC=$latC theta=$thetaDeg: pixel sum $sumPix vs Simpson footprint $oracle")
    }
  }

  test("pixelAreaColumn matches the Scala form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val lats = Seq(-89.5, -45.5, 0.5, 33.5, 89.5).toDF("lat")
    val viaCol = lats.select(GeoMathSpec.pixelAreaColumn(org.apache.spark.sql.functions.col("lat"), 0.5, 0.5))
      .as[Double].collect()
    val viaScala = Seq(-89.5, -45.5, 0.5, 33.5, 89.5).map(GeoMath.pixelAreaM2(_, 0.5, 0.5))
    viaCol.zip(viaScala).foreach { case (a, b) => assert(relEq(a, b)) }
  }
}

object GeoMathSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import GeoMath.{E, E2, SemiMinorM}

  /** The zone-integral difference written out again as Catalyst Column
    * arithmetic (no UDF): an independent transcription of the formula
    * [[GeoMath.pixelAreaM2]] evaluates in Scala inside the raster reader.
    */
  def pixelAreaColumn(lat: Column, dlatDeg: Double, dlonDeg: Double): Column = {
    val b2 = SemiMinorM * SemiMinorM
    def f(phi: Column): Column = {
      val s = sin(radians(phi))
      lit(b2 / 2.0) * (s / (lit(1.0) - lit(E2) * s * s) +
        lit(1.0 / (2.0 * E)) * log((lit(1.0) + lit(E) * s) / (lit(1.0) - lit(E) * s)))
    }
    lit(math.toRadians(dlonDeg)) * abs(f(lat + lit(dlatDeg / 2.0)) - f(lat - lit(dlatDeg / 2.0)))
  }
}
