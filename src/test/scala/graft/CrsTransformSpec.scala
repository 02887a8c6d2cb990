package graft

import graft.sources.tiff.CrsTransform
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the Krüger-series Transverse Mercator transform (round 15).
  * No reference vectors are reachable offline, so the pins are the
  * classical self-consistency identities plus two ORACLES that share no
  * code with the implementation: a Simpson integration of the meridian
  * arc (the northing on the central meridian IS k0 times that arc) and a
  * numeric-derivative point-scale check (dE/dλ = k0·ν·cosφ on the CM).
  */
class CrsTransformSpec extends AnyFunSuite {

  private val p33 = CrsTransform.utmParams(32633).get // zone 33N, cm 15°E
  private val p33s = CrsTransform.utmParams(32733).get // zone 33S

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("utmParams decodes zone, hemisphere, and constants") {
    assert(p33 === CrsTransform.TmParams(15.0, 500000.0, 0.0, 0.9996))
    assert(p33s === CrsTransform.TmParams(15.0, 500000.0, 1e7, 0.9996))
    assert(CrsTransform.utmParams(32601).get.cmDeg === -177.0)
    assert(CrsTransform.utmParams(32660).get.cmDeg === 177.0)
    assert(CrsTransform.utmParams(4326).isEmpty)
    assert(CrsTransform.utmParams(3857).isEmpty)
    assert(CrsTransform.utmParams(32661).isEmpty) // UPS, not UTM
  }

  test("central meridian at the equator maps to the false origin exactly") {
    val (e, nn) = CrsTransform.forward(p33, 15.0, 0.0)
    assert(math.abs(e - 500000.0) < 1e-9 && math.abs(nn) < 1e-9, s"($e, $nn)")
    val (es, ns) = CrsTransform.forward(p33s, 15.0, 0.0)
    assert(math.abs(es - 500000.0) < 1e-9 && math.abs(ns - 1e7) < 1e-9)
  }

  test("northing on the central meridian equals k0 times the Simpson meridian arc") {
    // meridian arc by Simpson over M(phi) = a(1-e2)/(1-e2 sin^2)^(3/2) —
    // independent of the Krüger series entirely
    def arc(latDeg: Double): Double = {
      val a = 6378137.0
      val e2 = (1.0 / 298.257223563) * (2.0 - 1.0 / 298.257223563)
      val hi = math.toRadians(latDeg)
      val steps = 200000
      val h = hi / steps
      var sum = 0.0
      for (i <- 0 to steps) {
        val s = math.sin(i * h)
        val coef = if (i == 0 || i == steps) 1.0 else if (i % 2 == 1) 4.0 else 2.0
        sum += coef * a * (1.0 - e2) / math.pow(1.0 - e2 * s * s, 1.5)
      }
      sum * h / 3.0
    }
    for (lat <- Seq(12.0, 45.0, 71.5, -33.25)) {
      val (_, nn) = CrsTransform.forward(p33, 15.0, lat)
      val expect = 0.9996 * arc(lat)
      assert(math.abs(nn - expect) < 1e-4, // 0.1 mm
        s"lat=$lat: northing $nn vs k0*arc $expect")
    }
  }

  test("point scale on the central meridian is k0 (numeric derivative)") {
    // dE/dlon at the CM = k0 * nu(phi) * cos(phi), nu the prime-vertical
    // radius — written from the curvature radius, not the series
    for (lat <- Seq(0.0, 30.0, 60.0, -45.0)) {
      val dDeg = 1e-6
      val (e1, _) = CrsTransform.forward(p33, 15.0 - dDeg / 2, lat)
      val (e2, _) = CrsTransform.forward(p33, 15.0 + dDeg / 2, lat)
      val a = 6378137.0
      val ee2 = (1.0 / 298.257223563) * (2.0 - 1.0 / 298.257223563)
      val s = math.sin(math.toRadians(lat))
      val nu = a / math.sqrt(1.0 - ee2 * s * s)
      val expect = 0.9996 * nu * math.cos(math.toRadians(lat)) * math.toRadians(dDeg)
      assert(math.abs((e2 - e1) / expect - 1.0) < 1e-7,
        s"lat=$lat: dE ${e2 - e1} vs $expect")
    }
  }

  test("forward then inverse round-trips to machine precision across the zone") {
    // VERDICT r14 task 2: forward∘inverse within 1e-6 px — at a 30 m pixel
    // that is 3e-5 m; the Newton inverse closes far tighter (pin 1e-11 deg
    // ≈ 1 µm on the ground, and 1e-7 m in the projected plane)
    check(Prop.forAll(Gen.choose(11.0, 19.0), Gen.choose(-80.0, 84.0)) {
      (lon, lat) =>
        val (e, nn) = CrsTransform.forward(p33, lon, lat)
        val (lon2, lat2) = CrsTransform.inverse(p33, e, nn)
        math.abs(lon2 - lon) < 1e-11 && math.abs(lat2 - lat) < 1e-11
    })
    // projected-space round-trip seeded from IN-ZONE geographic points
    // (UTM/Krüger is only defined near its zone — a raw (E, N) generator
    // wanders 20°+ from the central meridian at high latitude, where the
    // series legitimately diverges)
    check(Prop.forAll(Gen.choose(11.0, 19.0), Gen.choose(-80.0, 84.0)) {
      (lon, lat) =>
        val (e, nn) = CrsTransform.forward(p33, lon, lat)
        val (lon2, lat2) = CrsTransform.inverse(p33, e, nn)
        val (e2, n2) = CrsTransform.forward(p33, lon2, lat2)
        // 1 µm: the geo round-trip closes to ~1e-12° ≈ 0.1 µm ground, so the
        // re-forward picks up that much; still 30× under 1e-6 of a 30 m px
        math.abs(e2 - e) < 1e-6 && math.abs(n2 - nn) < 1e-6
    })
  }

  test("southern hemisphere: false northing offsets, same shape") {
    for (lat <- Seq(-1.0, -33.5, -70.0); lon <- Seq(12.0, 15.0, 17.5)) {
      val (eN, nN) = CrsTransform.forward(p33, lon, lat)
      val (eS, nS) = CrsTransform.forward(p33s, lon, lat)
      assert(math.abs(eN - eS) < 1e-9 && math.abs(nS - nN - 1e7) < 1e-9)
    }
  }

  test("between: supported pairs compose, unsupported pairs are None") {
    assert(CrsTransform.between(4326, 32633).isDefined)
    assert(CrsTransform.between(32733, 4326).isDefined)
    assert(CrsTransform.between(32633, 32634).isDefined) // zone-to-zone composes
    assert(CrsTransform.between(4326, 3857).isDefined) // web mercator (round 16)
    assert(CrsTransform.between(4326, 3413).isDefined) // NSIDC north (round 16)
    // round 16: 3035 is now REGISTERED (ETRS89 LAEA) — 4326 × 3035 stays
    // None because it CROSSES DATUMS without the epsg1149 opt-in, while
    // the same-datum ETRS89 pair composes
    assert(CrsTransform.between(4326, 3035).isEmpty)
    assert(CrsTransform.between(4258, 3035).isDefined)
    assert(CrsTransform.between(4267, 32633).isEmpty) // NAD27 datum: unsupported
    assert(CrsTransform.between(4326, 2154).isEmpty) // RGF93 Lambert-93: unsupported
    // 4326 -> UTM matches forward(); UTM -> 4326 matches inverse()
    val f = CrsTransform.between(4326, 32633).get
    assert(f(16.0, 48.0) === CrsTransform.forward(p33, 16.0, 48.0))
    val g = CrsTransform.between(32633, 4326).get
    assert(g(574000.0, 5317000.0) === CrsTransform.inverse(p33, 574000.0, 5317000.0))
    // zone 33 -> zone 34 round-trips through the shared geographic leg
    val z34 = CrsTransform.between(32633, 32634).get
    val z33 = CrsTransform.between(32634, 32633).get
    val (e0, n0) = (700000.0, 5300000.0) // east edge of zone 33 = inside 34
    val (e1, n1) = z34(e0, n0)
    val (e2, n2) = z33(e1, n1)
    assert(math.abs(e2 - e0) < 1e-6 && math.abs(n2 - n0) < 1e-6)
  }

  test("NAD83 family (round 15): GRS80 ellipsoid, same series shape, datum never crossed") {
    // EPSG:26915 = NAD83 UTM zone 15N (cm 93°W) on GRS80
    val p15 = CrsTransform.utmParams(26915).get
    assert(p15.cmDeg === -93.0 && p15.falseNorthing === 0.0 &&
      (p15.ell eq CrsTransform.Grs80))
    assert(CrsTransform.utmParams(26900).isEmpty &&
      CrsTransform.utmParams(26924).isEmpty) // published zone range 1–23
    // the GRS80 meridian arc differs from WGS84's (different flattening):
    // pin the CM northing against a GRS80 Simpson integration
    def arcGrs80(latDeg: Double): Double = {
      val a = 6378137.0
      val e2 = (1.0 / 298.257222101) * (2.0 - 1.0 / 298.257222101)
      val hi = math.toRadians(latDeg)
      val steps = 200000
      val h = hi / steps
      var sum = 0.0
      for (i <- 0 to steps) {
        val s = math.sin(i * h)
        val coef = if (i == 0 || i == steps) 1.0 else if (i % 2 == 1) 4.0 else 2.0
        sum += coef * a * (1.0 - e2) / math.pow(1.0 - e2 * s * s, 1.5)
      }
      sum * h / 3.0
    }
    for (lat <- Seq(29.0, 44.5)) {
      val (_, nn) = CrsTransform.forward(p15, -93.0, lat)
      assert(math.abs(nn - 0.9996 * arcGrs80(lat)) < 1e-4,
        s"lat=$lat: NAD83 northing $nn vs k0*GRS80 arc ${0.9996 * arcGrs80(lat)}")
    }
    // round-trip on the NAD83 ellipsoid
    check(Prop.forAll(Gen.choose(-96.0, -90.0), Gen.choose(25.0, 49.0)) {
      (lon, lat) =>
        val (e, nn) = CrsTransform.forward(p15, lon, lat)
        val (lon2, lat2) = CrsTransform.inverse(p15, e, nn)
        math.abs(lon2 - lon) < 1e-11 && math.abs(lat2 - lat) < 1e-11
    })
    // same-datum pairs transform; CROSS-DATUM pairs never do
    assert(CrsTransform.between(4269, 26915).isDefined)
    assert(CrsTransform.between(26915, 4269).isDefined)
    assert(CrsTransform.between(26915, 26914).isDefined) // NAD83 zone↔zone
    assert(CrsTransform.between(4326, 26915).isEmpty, "WGS84 geo × NAD83 UTM must not transform")
    assert(CrsTransform.between(4269, 32615).isEmpty, "NAD83 geo × WGS84 UTM must not transform")
    assert(CrsTransform.between(26915, 32615).isEmpty, "cross-datum UTM twins must not transform")
    // the two ellipsoids genuinely differ in the output (flattening is the
    // only difference, ~0.1 mm of polar radius — visible at high latitude
    // northings at the 0.1 mm level, NOT conflated away)
    val pW = CrsTransform.utmParams(32615).get
    val (_, nW) = CrsTransform.forward(pW, -93.0, 60.0)
    val (_, nN) = CrsTransform.forward(p15, -93.0, 60.0)
    assert(nW != nN && math.abs(nW - nN) < 0.01, s"dN=${nW - nN}")
  }

  // ---- the Krüger series: Clenshaw sum against the direct sum -------------
  //
  // forward/inverse sum the n⁴ series by Clenshaw's recurrence on the
  // complex ζ. The reference below sums the same coefficients term by term
  // (sin·cosh and cos·sinh per order, StrictMath sinh for the conformal
  // latitude), so the two share only the coefficients.

  private def atanhRef(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  private def asinhRef(x: Double): Double = math.log(x + math.sqrt(x * x + 1.0))

  private def directForward(p: CrsTransform.TmParams, lonDeg: Double, latDeg: Double)
      : (Double, Double) = {
    val el = p.ell
    val phi = math.toRadians(latDeg)
    val dl = math.toRadians(lonDeg - p.cmDeg)
    val s = math.sin(phi)
    val t = math.sinh(atanhRef(s) - el.e * atanhRef(el.e * s))
    val cosD = math.cos(dl)
    val xiP = math.atan2(t, cosD)
    val etaP = asinhRef(math.sin(dl) / math.sqrt(t * t + cosD * cosD))
    val xi = xiP +
      el.a1 * math.sin(2 * xiP) * math.cosh(2 * etaP) +
      el.a2 * math.sin(4 * xiP) * math.cosh(4 * etaP) +
      el.a3 * math.sin(6 * xiP) * math.cosh(6 * etaP) +
      el.a4 * math.sin(8 * xiP) * math.cosh(8 * etaP)
    val eta = etaP +
      el.a1 * math.cos(2 * xiP) * math.sinh(2 * etaP) +
      el.a2 * math.cos(4 * xiP) * math.sinh(4 * etaP) +
      el.a3 * math.cos(6 * xiP) * math.sinh(6 * etaP) +
      el.a4 * math.cos(8 * xiP) * math.sinh(8 * etaP)
    (p.falseEasting + p.scale * el.rectA * eta, p.falseNorthing + p.scale * el.rectA * xi)
  }

  private def directInverse(p: CrsTransform.TmParams, easting: Double, northing: Double)
      : (Double, Double) = {
    val el = p.ell
    val xi = (northing - p.falseNorthing) / (p.scale * el.rectA)
    val eta = (easting - p.falseEasting) / (p.scale * el.rectA)
    val xiP = xi -
      (el.b1 * math.sin(2 * xi) * math.cosh(2 * eta) +
        el.b2 * math.sin(4 * xi) * math.cosh(4 * eta) +
        el.b3 * math.sin(6 * xi) * math.cosh(6 * eta) +
        el.b4 * math.sin(8 * xi) * math.cosh(8 * eta))
    val etaP = eta -
      (el.b1 * math.cos(2 * xi) * math.sinh(2 * eta) +
        el.b2 * math.cos(4 * xi) * math.sinh(4 * eta) +
        el.b3 * math.cos(6 * xi) * math.sinh(6 * eta) +
        el.b4 * math.cos(8 * xi) * math.sinh(8 * eta))
    val sinhE = math.sinh(etaP)
    val cosX = math.cos(xiP)
    val tauP = math.sin(xiP) / math.sqrt(sinhE * sinhE + cosX * cosX)
    val dl = math.atan2(sinhE, cosX)
    var tau = tauP
    var i = 0
    while (i < 5) {
      val sq = math.sqrt(1.0 + tau * tau)
      val sigma = math.sinh(el.e * atanhRef(el.e * tau / sq))
      val fTau = tau * math.sqrt(1.0 + sigma * sigma) - sigma * sq
      val dTau = (math.sqrt((1.0 + sigma * sigma) * (1.0 + tau * tau)) - sigma * tau) *
        (1.0 - el.e2) * sq / (1.0 + (1.0 - el.e2) * tau * tau)
      tau += (tauP - fTau) / dTau
      i += 1
    }
    (p.cmDeg + math.toDegrees(dl), math.toDegrees(math.atan(tau)))
  }

  test("Clenshaw-summed series equals the direct sum within ±10° of the meridian, 84°N to 84°S") {
    // forward within 1e-8 m, inverse within 1e-12° — on WGS84 (zone 33N/S)
    // and GRS80 (NAD83 zone 15N)
    for (p <- Seq(p33, p33s, CrsTransform.utmParams(26915).get)) {
      var worstFwd = 0.0
      var worstInv = 0.0
      for (i <- -80 to 80; j <- -168 to 168) {
        val lon = p.cmDeg + i / 8.0
        val lat = j / 2.0
        val (e, n) = CrsTransform.forward(p, lon, lat)
        val (eRef, nRef) = directForward(p, lon, lat)
        worstFwd = math.max(worstFwd, math.max(math.abs(e - eRef), math.abs(n - nRef)))
        val (lon2, lat2) = CrsTransform.inverse(p, eRef, nRef)
        val (lonRef, latRef) = directInverse(p, eRef, nRef)
        worstInv = math.max(worstInv, math.max(math.abs(lon2 - lonRef), math.abs(lat2 - latRef)))
      }
      assert(worstFwd < 1e-8, s"${p.ell}/${p.cmDeg}: forward differs by $worstFwd m")
      assert(worstInv < 1e-12, s"${p.ell}/${p.cmDeg}: inverse differs by $worstInv deg")
    }
  }

  test("inverse's exp-form sinh and cosh match the StrictMath reference where they cancel") {
    // sinh(η′) and the Newton step's σ = sinh(e·atanh(e·sinφ)) come from one
    // exp each; E − 1/E cancels hardest near 0, so the pin walks the central
    // meridian and the equator down to 1e-9° off them, plus the zone edges
    // and 84°, within the same 1e-12° bound as the grid above
    val offs = Seq(0.0, 1e-9, -1e-9, 1e-6, -1e-6, 1e-3, -1e-3, 0.5, -3.0, 3.0, 10.0, -10.0)
    val lats = Seq(0.0, 1e-9, -1e-9, 1e-6, -1e-6, 1e-3, 0.5, -12.25, 45.0, -60.0, 84.0, -84.0)
    for (p <- Seq(p33, p33s, CrsTransform.utmParams(26915).get)) {
      var worst = 0.0
      for (d <- offs; lat <- lats) {
        val (e, n) = directForward(p, p.cmDeg + d, lat)
        val (lon2, lat2) = CrsTransform.inverse(p, e, n)
        val (lonRef, latRef) = directInverse(p, e, n)
        worst = math.max(worst, math.max(math.abs(lon2 - lonRef), math.abs(lat2 - latRef)))
      }
      assert(worst < 1e-12, s"${p.ell}/${p.cmDeg}: inverse differs by $worst deg")
      // on the meridian and the equator the exp form is exact: E = 1
      assert(CrsTransform.inverse(p, p.falseEasting, p.falseNorthing) == ((p.cmDeg, 0.0)))
    }
  }

  test("Clenshaw sum keeps every raster_zonal-shaped centroid in its 100 m UTM cell") {
    // 1024² centroids at 2^-11° from (14°E, 47°N) southward, mapped into
    // UTM 33N: no floor(E / 100) or floor(N / 100) index may move against
    // the direct sum
    val ps = 1.0 / 2048
    var moved = 0
    var worst = 0.0
    for (r <- 0 until 1024; c <- 0 until 1024) {
      val lon = 14.0 + (c + 0.5) * ps
      val lat = 47.0 - (r + 0.5) * ps
      val (e, n) = CrsTransform.forward(p33, lon, lat)
      val (eRef, nRef) = directForward(p33, lon, lat)
      worst = math.max(worst, math.max(math.abs(e - eRef), math.abs(n - nRef)))
      if (math.floor(e / 100.0) != math.floor(eRef / 100.0) ||
        math.floor(n / 100.0) != math.floor(nRef / 100.0)) moved += 1
    }
    assert(moved == 0, s"$moved centroids changed cell (largest difference $worst m)")
    assert(worst < 1e-8, s"largest difference $worst m")
  }

  // ---- round 16: conic projections (Albers 9822, LCC 9802) ----------------
  //
  // No reference vectors are reachable offline, so the pins are projection
  // THEOREMS that uniquely characterize each method, computed through code
  // paths the implementation does not share: the spherical limit against
  // Snyder's closed spherical formulas, numeric-derivative scale checks at
  // the standard parallels (= 1 by construction of n), the equal-area
  // Jacobian identity for Albers (|det J| = M·N·cosφ everywhere), and the
  // conformality identity for LCC (isotropic scale + orthogonality).

  private val alb = CrsTransform.conicParams(5070).get
    .asInstanceOf[CrsTransform.AlbersParams]
  private val lcc = CrsTransform.conicParams(26943).get
    .asInstanceOf[CrsTransform.LccParams]

  // meridional / prime-vertical curvature radii on the ellipsoid — written
  // from the curvature formulas, not from anything in CrsTransform
  private def radiiM(ell: CrsTransform.Ellipsoid, latDeg: Double): (Double, Double) = {
    val s = math.sin(math.toRadians(latDeg))
    val w2 = 1.0 - ell.e2 * s * s
    (ell.a * (1.0 - ell.e2) / math.pow(w2, 1.5), ell.a / math.sqrt(w2))
  }

  // numeric Jacobian of p.fwd at (lon, lat), per RADIAN
  private def jacobian(p: CrsTransform.Proj, lon: Double, lat: Double)
      : (Double, Double, Double, Double) = {
    val dd = 1e-5
    val (eL0, nL0) = p.fwd(lon - dd / 2, lat)
    val (eL1, nL1) = p.fwd(lon + dd / 2, lat)
    val (eP0, nP0) = p.fwd(lon, lat - dd / 2)
    val (eP1, nP1) = p.fwd(lon, lat + dd / 2)
    val h = math.toRadians(dd)
    ((eL1 - eL0) / h, (nL1 - nL0) / h, (eP1 - eP0) / h, (nP1 - nP0) / h)
  }

  test("conic registry: published parameter sets, nothing else") {
    assert(alb.cmDeg === -96.0 && alb.lat0Deg === 23.0 &&
      alb.sp1Deg === 29.5 && alb.sp2Deg === 45.5 && (alb.ell eq CrsTransform.Grs80))
    // 6350 (NAD83(2011) / Conus Albers) carries the identical parameters
    assert(CrsTransform.conicParams(6350).get === alb)
    // California Albers: nonzero false northing
    val ca = CrsTransform.conicParams(3310).get.asInstanceOf[CrsTransform.AlbersParams]
    assert(ca.falseNorthing === -4000000.0 && ca.cmDeg === -120.0)
    // all six SPCS83 California LCC zones, meter-based
    for (z <- 26941 to 26946) assert(CrsTransform.conicParams(z).isDefined, s"zone $z")
    assert(lcc.falseEasting === 2e6 && lcc.falseNorthing === 5e5 && lcc.cmDeg === -120.5)
    // registry is closed: neighbors of real codes resolve to nothing
    assert(CrsTransform.conicParams(5071).isEmpty)
    assert(CrsTransform.conicParams(26947).isEmpty)
    assert(CrsTransform.conicParams(3857).isEmpty)
    // projParams unifies UTM + conics
    assert(CrsTransform.projParams(32633).isDefined)
    assert(CrsTransform.projParams(5070).isDefined)
    assert(CrsTransform.projParams(4326).isEmpty)
  }

  test("Albers: the projection origin maps to the false origin") {
    val (e, n) = alb.fwd(-96.0, 23.0)
    assert(math.abs(e) < 1e-9 && math.abs(n) < 1e-9, s"($e, $n)")
    val ca = CrsTransform.conicParams(3310).get
    val (e2, n2) = ca.fwd(-120.0, 0.0)
    assert(math.abs(e2) < 1e-9 && math.abs(n2 - (-4000000.0)) < 1e-9)
  }

  test("Albers: scale along both standard parallels is exactly 1 (numeric derivative)") {
    // k(φ) along a parallel = |dP/dλ| / (N(φ)·cosφ); n and C are DEFINED so
    // k(sp1) = k(sp2) = 1 — true of the genuine 9822 constants only
    for (sp <- Seq(29.5, 45.5); lon <- Seq(-110.0, -96.0, -80.0)) {
      val (dEl, dNl, _, _) = jacobian(alb, lon, sp)
      val (_, nu) = radiiM(CrsTransform.Grs80, sp)
      val k = math.hypot(dEl, dNl) / (nu * math.cos(math.toRadians(sp)))
      assert(math.abs(k - 1.0) < 1e-7, s"k($sp) at lon $lon = $k")
    }
  }

  test("Albers: equal-area — |det J| equals the ellipsoidal area element everywhere") {
    // THE defining property of method 9822: areas are preserved, so the
    // Jacobian determinant per (dλ, dφ) equals M(φ)·N(φ)·cosφ at every
    // point, not just on the parallels
    for (lat <- Seq(25.0, 31.0, 37.5, 44.0, 48.5); lon <- Seq(-122.0, -104.0, -96.0, -75.0)) {
      val (dEl, dNl, dEp, dNp) = jacobian(alb, lon, lat)
      val det = math.abs(dEl * dNp - dEp * dNl)
      val (mM, nu) = radiiM(CrsTransform.Grs80, lat)
      val want = mM * nu * math.cos(math.toRadians(lat))
      assert(math.abs(det / want - 1.0) < 1e-6, s"($lon, $lat): det $det vs $want")
    }
  }

  test("Albers: ellipsoidal forms reduce to Snyder's spherical Albers at e -> 0") {
    // near-sphere ellipsoid: the GN7-2 q/m machinery must converge to the
    // closed spherical formulas (Snyder 1987 eq. 14-1..14-6), which share
    // no code with the implementation
    val sph = CrsTransform.Ellipsoid("near-sphere", 6370000.0, 1e-12)
    val p = CrsTransform.AlbersParams(23.0, -96.0, 29.5, 45.5, 0.0, 0.0, sph)
    def sphericalAlbers(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val r = 6370000.0
      val phi1 = math.toRadians(29.5); val phi2 = math.toRadians(45.5)
      val n = (math.sin(phi1) + math.sin(phi2)) / 2.0
      val c = math.cos(phi1) * math.cos(phi1) + 2.0 * n * math.sin(phi1)
      def rho(phi: Double) = r * math.sqrt(c - 2.0 * n * math.sin(phi)) / n
      val rho0 = rho(math.toRadians(23.0))
      val theta = n * math.toRadians(lonDeg - (-96.0))
      (rho(math.toRadians(latDeg)) * math.sin(theta),
        rho0 - rho(math.toRadians(latDeg)) * math.cos(theta))
    }
    for (lat <- Seq(25.0, 35.0, 45.0, 48.0); lon <- Seq(-120.0, -96.0, -70.0)) {
      val (e, n) = p.fwd(lon, lat)
      val (eS, nS) = sphericalAlbers(lon, lat)
      assert(math.abs(e - eS) < 1e-3 && math.abs(n - nS) < 1e-3,
        s"($lon, $lat): ($e, $n) vs spherical ($eS, $nS)")
    }
  }

  test("Albers: forward then inverse round-trips across CONUS") {
    check(Prop.forAll(Gen.choose(-124.0, -67.0), Gen.choose(25.0, 49.0)) {
      (lon, lat) =>
        val (e, n) = alb.fwd(lon, lat)
        val (lon2, lat2) = alb.inv(e, n)
        math.abs(lon2 - lon) < 1e-11 && math.abs(lat2 - lat) < 1e-11
    })
    // a 2SP cone's domain covers the WHOLE ellipsoid: at the pole the sqrt
    // argument reduces (spherically) to (1−sinφ1)(1−sinφ2) > 0 for any
    // distinct parallels, so the fwd domain require is purely defensive —
    // pin that the poles map to FINITE coordinates, never NaN
    val (eS, nS) = alb.fwd(-96.0, -90.0)
    val (eN, nN) = alb.fwd(-96.0, 90.0)
    assert(eS.isFinite && nS.isFinite && eN.isFinite && nN.isFinite)
  }

  test("LCC: origin, scale 1 at both standard parallels, conformality") {
    val (e0, n0) = lcc.fwd(-120.5, 36.5)
    assert(math.abs(e0 - 2e6) < 1e-9 && math.abs(n0 - 5e5) < 1e-9)
    // scale along each standard parallel is 1 by construction of n and F
    for (sp <- Seq(37.0 + 4.0 / 60, 38.0 + 26.0 / 60); lon <- Seq(-122.5, -120.5, -118.5)) {
      val (dEl, dNl, _, _) = jacobian(lcc, lon, sp)
      val (_, nu) = radiiM(CrsTransform.Grs80, sp)
      val k = math.hypot(dEl, dNl) / (nu * math.cos(math.toRadians(sp)))
      assert(math.abs(k - 1.0) < 1e-7, s"k($sp) at lon $lon = $k")
    }
    // conformal: isotropic local scale (h = k) and orthogonal image axes
    for (lat <- Seq(36.0, 37.5, 39.0); lon <- Seq(-123.0, -120.5, -118.0)) {
      val (dEl, dNl, dEp, dNp) = jacobian(lcc, lon, lat)
      val (mM, nu) = radiiM(CrsTransform.Grs80, lat)
      val k = math.hypot(dEl, dNl) / (nu * math.cos(math.toRadians(lat)))
      val h = math.hypot(dEp, dNp) / mM
      assert(math.abs(h / k - 1.0) < 1e-6, s"($lon, $lat): h $h vs k $k")
      val cosAngle = (dEl * dEp + dNl * dNp) /
        (math.hypot(dEl, dNl) * math.hypot(dEp, dNp))
      assert(math.abs(cosAngle) < 1e-6, s"($lon, $lat): axes not orthogonal ($cosAngle)")
    }
  }

  test("LCC: ellipsoidal forms reduce to Snyder's spherical LCC at e -> 0") {
    val sph = CrsTransform.Ellipsoid("near-sphere", 6370000.0, 1e-12)
    val p = CrsTransform.LccParams(36.5, -120.5, 37.0 + 4.0 / 60, 38.0 + 26.0 / 60,
      0.0, 0.0, sph)
    def sphericalLcc(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val r = 6370000.0
      val phi1 = math.toRadians(37.0 + 4.0 / 60)
      val phi2 = math.toRadians(38.0 + 26.0 / 60)
      val n = math.log(math.cos(phi1) / math.cos(phi2)) /
        math.log(math.tan(math.Pi / 4 + phi2 / 2) / math.tan(math.Pi / 4 + phi1 / 2))
      val f = math.cos(phi1) * math.pow(math.tan(math.Pi / 4 + phi1 / 2), n) / n
      def rho(phi: Double) = r * f / math.pow(math.tan(math.Pi / 4 + phi / 2), n)
      val rho0 = rho(math.toRadians(36.5))
      val theta = n * math.toRadians(lonDeg - (-120.5))
      (rho(math.toRadians(latDeg)) * math.sin(theta),
        rho0 - rho(math.toRadians(latDeg)) * math.cos(theta))
    }
    for (lat <- Seq(36.0, 37.5, 39.0); lon <- Seq(-123.0, -120.5, -118.0)) {
      val (e, n) = p.fwd(lon, lat)
      val (eS, nS) = sphericalLcc(lon, lat)
      assert(math.abs(e - eS) < 1e-3 && math.abs(n - nS) < 1e-3,
        s"($lon, $lat): ($e, $n) vs spherical ($eS, $nS)")
    }
  }

  test("LCC: forward then inverse round-trips across the zone") {
    check(Prop.forAll(Gen.choose(-124.0, -117.0), Gen.choose(35.5, 39.5)) {
      (lon, lat) =>
        val (e, n) = lcc.fwd(lon, lat)
        val (lon2, lat2) = lcc.inv(e, n)
        math.abs(lon2 - lon) < 1e-11 && math.abs(lat2 - lat) < 1e-11
    })
  }

  test("between: conics compose on the NAD83 datum; cross-datum still gated") {
    assert(CrsTransform.between(4269, 5070).isDefined)
    assert(CrsTransform.between(5070, 4269).isDefined)
    assert(CrsTransform.between(4269, 26943).isDefined)
    assert(CrsTransform.between(26915, 5070).isDefined) // UTM <-> Albers, shared geo leg
    assert(CrsTransform.between(5070, 26943).isDefined) // Albers <-> LCC
    assert(CrsTransform.between(4326, 5070).isEmpty, "WGS84 geo x NAD83 Albers: cross-datum")
    assert(CrsTransform.between(32615, 5070).isEmpty, "WGS84 UTM x NAD83 Albers: cross-datum")
    // 4269 -> 5070 IS the Albers forward; Albers <-> LCC round-trips
    val f = CrsTransform.between(4269, 5070).get
    assert(f(-100.0, 40.0) === alb.fwd(-100.0, 40.0))
    val a2l = CrsTransform.between(5070, 26943).get
    val l2a = CrsTransform.between(26943, 5070).get
    val (e0, n0) = alb.fwd(-120.0, 37.5)
    val (e1, n1) = a2l(e0, n0)
    val (e2, n2) = l2a(e1, n1)
    assert(math.abs(e2 - e0) < 1e-6 && math.abs(n2 - n0) < 1e-6)
  }

  test("datum bridge (round 16): EPSG:1188 zero-shift, opt-in, WGS84<->NAD83 only") {
    // without the opt-in every cross-datum pair stays None (pins unchanged
    // round-15 behavior)
    assert(CrsTransform.between(4326, 4269).isEmpty)
    assert(CrsTransform.between(4326, 26915).isEmpty)
    // with the opt-in: geographic pairs, geo x UTM, geo x Albers all compose
    assert(CrsTransform.between(4326, 4269, datumBridge = "epsg1188").isDefined)
    assert(CrsTransform.between(4326, 26915, datumBridge = "epsg1188").isDefined)
    assert(CrsTransform.between(4326, 5070, datumBridge = "epsg1188").isDefined)
    assert(CrsTransform.between(26915, 32615, datumBridge = "epsg1188").isDefined)
    // a bridge VALUE never opens a pair it does not name (no laundering):
    // epsg1188 is the NAD83 transform — it must not admit the ETRS89 pair,
    // and vice versa (round 16: 3035 IS registered, the value gate is what
    // rejects here)
    assert(CrsTransform.between(4326, 3035, datumBridge = "epsg1188").isEmpty)
    assert(CrsTransform.between(4326, 3035, datumBridge = "epsg1149").isDefined)
    assert(CrsTransform.between(4326, 4258, datumBridge = "epsg1149").isDefined)
    assert(CrsTransform.between(4326, 4269, datumBridge = "epsg1149").isEmpty)
    assert(CrsTransform.between(4326, 26915, datumBridge = "epsg1149").isEmpty)
    // ETRS89 and NAD83 share GRS80's constants but are DIFFERENT datums:
    // no composition, no bridge under either value (neither names the pair)
    assert(CrsTransform.between(4258, 4269).isEmpty)
    assert(CrsTransform.between(4258, 26915).isEmpty)
    assert(CrsTransform.between(3035, 5070, datumBridge = "epsg1188").isEmpty)
    assert(CrsTransform.between(3035, 5070, datumBridge = "epsg1149").isEmpty)
    assert(CrsTransform.between(4258, 4269, datumBridge = "epsg1188").isEmpty)
    assert(CrsTransform.between(4258, 4269, datumBridge = "epsg1149").isEmpty)
    // ... and the WGS84 polar/web family bridges to NAD83 like any other
    // same-registry projection (shared geographic leg + EPSG:1188)
    assert(CrsTransform.between(4269, 3413, datumBridge = "epsg1188").isDefined)
    assert(CrsTransform.between(4269, 3413).isEmpty)
    assert(CrsTransform.between(4267, 4326, datumBridge = "epsg1188").isEmpty, "NAD27 never bridges")
    assert(CrsTransform.bridgeTransform("epsg1188", CrsTransform.Wgs84, CrsTransform.Wgs84).isEmpty)
    assert(CrsTransform.bridgeTransform("epsg1188", CrsTransform.Wgs84, CrsTransform.Grs80).isDefined)
    // the zero-shift bridge: longitude EXACTLY unchanged (the geocentric
    // translation is zero and both ellipsoids share an axis); latitude
    // moves by the flattening difference only — hand bound: Δφ ≈
    // Δf·sin(2φ) ≈ 1.6e-11·sin(2φ) rad < 1e-9 deg, nonzero at mid-latitudes
    val br = CrsTransform.epsg1188Bridge(CrsTransform.Wgs84, CrsTransform.Grs80) _
    val (lonB, latB) = br(-100.0, 45.0)
    assert(lonB === -100.0)
    assert(math.abs(latB - 45.0) < 1e-8 && latB != 45.0)
    // bridge round-trip closes
    val back = CrsTransform.epsg1188Bridge(CrsTransform.Grs80, CrsTransform.Wgs84) _
    val (lonR, latR) = back(lonB, latB)
    assert(math.abs(lonR - (-100.0)) < 1e-12 && math.abs(latR - 45.0) < 1e-12)
    // at the equator and pole the two ellipsoids' surfaces meet on-axis:
    // the bridge is the identity there
    assert(br(-100.0, 0.0) === (-100.0, 0.0))
    // end-to-end: 4326 -> 5070 with the bridge equals bridge-then-Albers
    val t = CrsTransform.between(4326, 5070, datumBridge = "epsg1188").get
    val (bx, by) = br(-100.0, 40.0)
    assert(t(-100.0, 40.0) === alb.fwd(bx, by))
  }

  test("TM meridian guard (round 16): >10 deg from the central meridian fails loudly") {
    // zone 33 cm = 15E: 24.9E transforms, 25.1E throws a typed error that
    // names the bound — the n^4 truncation degrades rapidly out there and
    // the coverage gate's boundary-bounds-interior argument needs the map
    // to stay a diffeomorphism
    val t = CrsTransform.between(4326, 32633).get
    t(24.9, 45.0) // inside the bound: fine
    val e = intercept[IllegalArgumentException] { t(25.1, 45.0) }
    assert(e.getMessage.contains("central meridian") && e.getMessage.contains("32633"))
    // the INVERSE leg guards too: an easting whose geographic image is
    // beyond the bound (forward computed with the raw series, which has no
    // guard — the guard lives in the composed transform)
    val (eFar, nFar) = CrsTransform.forward(p33, 25.5, 0.0)
    val inv = CrsTransform.between(32633, 4326).get
    val e2 = intercept[IllegalArgumentException] { inv(eFar, nFar) }
    assert(e2.getMessage.contains("central meridian"))
    // conic legs carry no Δλ guard (closed forms, no series truncation):
    // CONUS Albers happily spans 57 degrees of longitude
    val ta = CrsTransform.between(4269, 5070).get
    ta(-124.0, 45.0); ta(-67.0, 45.0)
  }

  test("zipTransform gates on declared, distinct, supported EPSG pairs") {
    import graft.sources.tiff.TiffTags.RasterMeta
    def meta(epsg: Option[Int], model: Option[Int]) =
      RasterMeta("t", 10, 8, 32, 3, 0.5, 0.5, 10.0, 50.0, None,
        crsModelType = model, epsg = epsg)
    val geo = meta(Some(4326), Some(2))
    val utm = meta(Some(32633), Some(1))
    assert(CrsTransform.zipTransform(geo, utm).isDefined)
    assert(CrsTransform.zipTransform(utm, geo).isDefined)
    assert(CrsTransform.zipTransform(geo, geo).isEmpty) // same CRS: affine path
    assert(CrsTransform.zipTransform(geo, meta(None, None)).isEmpty) // undeclared
    assert(CrsTransform.zipTransform(geo, meta(Some(3857), Some(1))).isDefined)
    assert(CrsTransform.zipTransform(geo, meta(Some(3035), Some(1))).isEmpty)
  }

  // ---- round 16: polar stereographic (9829/9810) + web mercator (1024) ----
  // The pin strategy: GN7-2's OWN published worked examples (independent
  // external vectors, remembered digits re-verified numerically before
  // being pinned), plus the same theorem suite the conics use — parallel
  // scale 1 at the standard parallel, conformality, the geometric
  // stereographic construction at e → 0, and machine-precision round-trips.

  private val ps3413 = CrsTransform.polarWebParams(3413).get
    .asInstanceOf[CrsTransform.PolarStereoBParams]
  private val ps3031 = CrsTransform.polarWebParams(3031).get
    .asInstanceOf[CrsTransform.PolarStereoBParams]
  private val ups5041 = CrsTransform.polarWebParams(5041).get
    .asInstanceOf[CrsTransform.PolarStereoAParams]
  private val web = CrsTransform.polarWebParams(3857).get
    .asInstanceOf[CrsTransform.WebMercParams]

  test("polar/web registry: published parameter sets, nothing else") {
    assert(ps3413.latTsDeg === 70.0 && ps3413.lon0Deg === -45.0 &&
      ps3413.falseEasting === 0.0 && (ps3413.ell eq CrsTransform.Wgs84))
    assert(ps3031.latTsDeg === -71.0 && ps3031.lon0Deg === 0.0)
    assert(CrsTransform.polarWebParams(3976).get
      .asInstanceOf[CrsTransform.PolarStereoBParams].latTsDeg === -70.0)
    assert(ups5041.north && ups5041.k0 === 0.994 &&
      ups5041.falseEasting === 2e6 && ups5041.falseNorthing === 2e6)
    // legacy UPS codes alias the 5041/5042 grids
    assert(CrsTransform.polarWebParams(32661).get === ups5041)
    assert(!CrsTransform.polarWebParams(5042).get
      .asInstanceOf[CrsTransform.PolarStereoAParams].north)
    assert(CrsTransform.polarWebParams(32761).get ===
      CrsTransform.polarWebParams(5042).get)
    // registry is closed: neighbors resolve to nothing
    assert(CrsTransform.polarWebParams(3414).isEmpty)
    assert(CrsTransform.polarWebParams(3858).isEmpty)
    assert(CrsTransform.polarWebParams(32633).isEmpty)
    // projParams unifies all three registries
    assert(CrsTransform.projParams(3413).isDefined)
    assert(CrsTransform.projParams(3857).isDefined)
  }

  test("polar stereographic variant B: GN7-2's published worked example") {
    // GN7-2 method 9829 example (Australian Antarctic Polar Stereographic
    // parameter set): φF = 71°S, λ0 = 70°E, FE = FN = 6 000 000 m;
    // φ = 75°S, λ = 120°E → E = 7 255 380.79 m, N = 7 053 389.56 m
    val p = CrsTransform.PolarStereoBParams(-71.0, 70.0, 6e6, 6e6,
      CrsTransform.Wgs84)
    val (e, n) = p.fwd(120.0, -75.0)
    assert(math.abs(e - 7255380.79) < 0.01, s"E $e")
    assert(math.abs(n - 7053389.56) < 0.01, s"N $n")
    val (lon, lat) = p.inv(7255380.79, 7053389.56)
    assert(math.abs(lon - 120.0) < 1e-7 && math.abs(lat - (-75.0)) < 1e-7)
  }

  test("polar stereographic variant A: GN7-2's published worked example (UPS shape)") {
    // GN7-2 method 9810 example: k0 = 0.994 at the north pole, λ0 = 0,
    // FE = FN = 2 000 000 m; φ = 73°N, λ = 44°E →
    // E = 3 320 416.75 m, N = 632 668.43 m
    val (e, n) = ups5041.fwd(44.0, 73.0)
    assert(math.abs(e - 3320416.75) < 0.01, s"E $e")
    assert(math.abs(n - 632668.43) < 0.01, s"N $n")
    val (lon, lat) = ups5041.inv(3320416.75, 632668.43)
    assert(math.abs(lon - 44.0) < 1e-7 && math.abs(lat - 73.0) < 1e-7)
  }

  test("polar stereographic: pole maps to false origin; λ is the ray azimuth") {
    // variant B north: t(90°) = 0 exactly, so the pole IS the false origin
    val (e0, n0) = ps3413.fwd(17.0, 90.0) // any λ at the pole
    assert(math.abs(e0) < 1e-9 && math.abs(n0) < 1e-9)
    // meridians are straight rays: along λ, the azimuth atan2(dx, −dy)
    // equals λ − λ0 for every ρ (north aspect)
    for (lon <- Seq(-170.0, -45.0, 0.0, 63.5); lat <- Seq(65.0, 75.0, 88.0)) {
      val (e, n) = ps3413.fwd(lon, lat)
      val az = math.toDegrees(math.atan2(e, -n))
      val want = ((lon + 45.0) % 360.0 + 540.0) % 360.0 - 180.0
      assert(math.abs(az - want) < 1e-9, s"az($lon, $lat) = $az want $want")
    }
    // south aspect (3031): ray azimuth is atan2(dx, dy) = λ − λ0
    for (lon <- Seq(-120.0, 0.0, 77.0); lat <- Seq(-66.0, -80.0)) {
      val (e, n) = ps3031.fwd(lon, lat)
      assert(math.abs(math.toDegrees(math.atan2(e, n)) - lon) < 1e-9)
    }
  }

  test("polar stereographic: parallel scale is exactly 1 on the standard parallel") {
    for (lon <- Seq(-90.0, -45.0, 30.0)) {
      val (dEl, dNl, _, _) = jacobian(ps3413, lon, 70.0)
      val (_, nu) = radiiM(CrsTransform.Wgs84, 70.0)
      val k = math.hypot(dEl, dNl) / (nu * math.cos(math.toRadians(70.0)))
      assert(math.abs(k - 1.0) < 1e-7, s"k at lon $lon = $k")
    }
    // variant A: scale at the POLE is k0 — evaluate just off the pole
    // where the numeric derivative is stable
    val (dEl, dNl, _, _) = jacobian(ups5041, 0.0, 89.99)
    val (_, nu) = radiiM(CrsTransform.Wgs84, 89.99)
    val k = math.hypot(dEl, dNl) / (nu * math.cos(math.toRadians(89.99)))
    assert(math.abs(k - 0.994) < 1e-6, s"k near pole = $k")
  }

  test("polar stereographic: conformality (isotropic scale, orthogonal axes)") {
    for (p <- Seq[CrsTransform.Proj](ps3413, ps3031, ups5041);
         lon <- Seq(-60.0, 10.0); latAbs <- Seq(62.0, 78.0, 86.0)) {
      val lat = p match {
        case b: CrsTransform.PolarStereoBParams if b.latTsDeg < 0 => -latAbs
        case a: CrsTransform.PolarStereoAParams if !a.north => -latAbs
        case _ => latAbs
      }
      val (dEl, dNl, dEp, dNp) = jacobian(p, lon, lat)
      val (mM, nu) = radiiM(CrsTransform.Wgs84, lat)
      val k = math.hypot(dEl, dNl) / (nu * math.cos(math.toRadians(lat)))
      val h = math.hypot(dEp, dNp) / mM
      assert(math.abs(h / k - 1.0) < 1e-6, s"($lon, $lat): h $h vs k $k")
      val cosAngle = (dEl * dEp + dNl * dNp) /
        (math.hypot(dEl, dNl) * math.hypot(dEp, dNp))
      assert(math.abs(cosAngle) < 1e-6, s"($lon, $lat): not orthogonal")
    }
  }

  test("polar stereographic: e → 0 reduces to the geometric projection from the antipodal pole") {
    // On a sphere, stereographic projection from the south pole onto the
    // north tangent plane is the GEOMETRIC map ρ_geom = 2R·tan(π/4 − φ/2);
    // variant B rescales it by a constant. So ρ/ρ_geom must be the SAME
    // constant at every latitude, and ρ(φF) must equal R·cos(φF) (parallel
    // scale 1 there).
    val sph = CrsTransform.Ellipsoid("near-sphere", 6370000.0, 1e-12)
    val p = CrsTransform.PolarStereoBParams(70.0, 0.0, 0.0, 0.0, sph)
    def rho(lat: Double): Double = { val (e, n) = p.fwd(0.0, lat); math.hypot(e, n) }
    def rhoGeom(lat: Double): Double =
      2.0 * sph.a * math.tan(math.Pi / 4.0 - math.toRadians(lat) / 2.0)
    val c0 = rho(70.0) / rhoGeom(70.0)
    for (lat <- Seq(45.0, 60.0, 80.0, 89.0))
      assert(math.abs(rho(lat) / rhoGeom(lat) - c0) < 1e-9, s"lat $lat")
    assert(math.abs(rho(70.0) - sph.a * math.cos(math.toRadians(70.0))) < 1e-3)
  }

  test("polar stereographic: round-trips and the folded-latitude guard") {
    check(Prop.forAll(Gen.choose(-180.0, 180.0), Gen.choose(-55.0, 90.0)) {
      (lon, lat) =>
        val (e, n) = ps3413.fwd(lon, lat)
        val (lon2, lat2) = ps3413.inv(e, n)
        val dLon = math.abs(((lon2 - lon) % 360.0 + 540.0) % 360.0 - 180.0)
        (math.abs(lat - 90.0) < 1e-9 || dLon < 1e-9) && math.abs(lat2 - lat) < 1e-9
    })
    check(Prop.forAll(Gen.choose(-180.0, 180.0), Gen.choose(-90.0, 55.0)) {
      (lon, lat) =>
        val (e, n) = ps3031.fwd(lon, lat)
        val (lon2, lat2) = ps3031.inv(e, n)
        val dLon = math.abs(((lon2 - lon) % 360.0 + 540.0) % 360.0 - 180.0)
        (math.abs(lat + 90.0) < 1e-9 || dLon < 1e-9) && math.abs(lat2 - lat) < 1e-9
    })
    // beyond 60° into the opposite hemisphere: loud typed failure
    val eG = intercept[IllegalArgumentException] { ps3413.fwd(0.0, -61.0) }
    assert(eG.getMessage.contains("opposite hemisphere"))
    val eS = intercept[IllegalArgumentException] { ps3031.fwd(0.0, 61.0) }
    assert(eS.getMessage.contains("opposite hemisphere"))
    ps3413.fwd(0.0, -59.0) // just inside: fine
  }

  test("web mercator: analytic inverse, the square-extent identity, and the 1024-vs-9804 gap") {
    // round-trips close to machine precision (no iteration anywhere)
    check(Prop.forAll(Gen.choose(-180.0, 180.0), Gen.choose(-85.0, 85.0)) {
      (lon, lat) =>
        val (e, n) = web.fwd(lon, lat)
        val (lon2, lat2) = web.inv(e, n)
        math.abs(lon2 - lon) < 1e-12 && math.abs(lat2 - lat) < 1e-12
    })
    // the square extent: at φ* = 2·atan(e^π) − π/2 the ordinate equals
    // a·π exactly — an identity that exercises ln∘tan against exp∘atan
    val latStar = math.toDegrees(2.0 * math.atan(math.exp(math.Pi)) - math.Pi / 2.0)
    val (eStar, nStar) = web.fwd(180.0, latStar)
    assert(math.abs(eStar - 6378137.0 * math.Pi) < 1e-6)
    assert(math.abs(nStar - 6378137.0 * math.Pi) < 1e-6)
    // method 1024 is the SPHERICAL formula on ellipsoidal latitude: at 40°N
    // it must sit tens of km north of the ellipsoidal Mercator (9804) —
    // pins that we implemented the web-tile method, not classic Mercator
    val el = CrsTransform.Wgs84
    val phi = math.toRadians(40.0)
    val s = math.sin(phi)
    val y9804 = el.a * math.log(math.tan(math.Pi / 4.0 + phi / 2.0) *
      math.pow((1.0 - el.e * s) / (1.0 + el.e * s), el.e / 2.0))
    val (_, y1024) = web.fwd(0.0, 40.0)
    val gap = y1024 - y9804
    assert(gap > 10000.0 && gap < 50000.0, s"1024 − 9804 gap at 40° = $gap m")
    // latitude guard: beyond the published extent fails loudly
    val eLat = intercept[IllegalArgumentException] { web.fwd(0.0, 85.2) }
    assert(eLat.getMessage.contains("85.06"))
  }

  // ---- round 16: Lambert Azimuthal Equal-Area (9820) + the ETRS89 datum --

  private val laea35 = CrsTransform.laeaParams(3035).get
    .asInstanceOf[CrsTransform.LaeaParams]
  private val laeaNp = CrsTransform.laeaParams(3575).get
    .asInstanceOf[CrsTransform.LaeaParams]

  test("LAEA registry: published parameter sets; ETRS89 is its own datum") {
    assert(laea35.lat0Deg === 52.0 && laea35.lon0Deg === 10.0 &&
      laea35.falseEasting === 4321000.0 && laea35.falseNorthing === 3210000.0 &&
      (laea35.ell eq CrsTransform.Etrs89))
    for ((code, lon0) <- Seq(3573 -> -100.0, 3574 -> -40.0, 3575 -> 10.0, 3576 -> 90.0)) {
      val p = CrsTransform.laeaParams(code).get.asInstanceOf[CrsTransform.LaeaParams]
      assert(p.lat0Deg === 90.0 && p.lon0Deg === lon0 && (p.ell eq CrsTransform.Wgs84))
    }
    assert(CrsTransform.laeaParams(3036).isEmpty)
    assert(CrsTransform.laeaParams(3577).isEmpty) // Australian Albers: not LAEA
    // ETRS89 shares GRS80's CONSTANTS but compares UNEQUAL — the datum
    // gate is identity, not geometry (a NAD83 raster must never silently
    // compose with an ETRS89 one)
    assert(CrsTransform.Etrs89.a === CrsTransform.Grs80.a &&
      CrsTransform.Etrs89.f === CrsTransform.Grs80.f &&
      CrsTransform.Etrs89 != CrsTransform.Grs80)
  }

  test("LAEA oblique: GN7-2's published worked example (EPSG:3035 parameters)") {
    // GN7-2 method 9820 example: φ = 50°N, λ = 5°E →
    // E = 3 962 799.45 m, N = 2 999 718.85 m
    val (e, n) = laea35.fwd(5.0, 50.0)
    assert(math.abs(e - 3962799.45) < 0.01, s"E $e")
    assert(math.abs(n - 2999718.85) < 0.01, s"N $n")
    val (lon, lat) = laea35.inv(3962799.45, 2999718.85)
    assert(math.abs(lon - 5.0) < 1e-7 && math.abs(lat - 50.0) < 1e-7)
    // the projection origin maps to the false origin exactly
    val (e0, n0) = laea35.fwd(10.0, 52.0)
    assert(math.abs(e0 - 4321000.0) < 1e-6 && math.abs(n0 - 3210000.0) < 1e-6)
  }

  test("LAEA: equal-area — |det J| equals the ellipsoidal area element everywhere") {
    // the same oracle the Albers suite uses: |det J| per radian² must equal
    // M(φ)·N(φ)·cosφ — written from curvature radii, no projection code
    for ((p, pts) <- Seq(
        laea35 -> Seq((5.0, 50.0), (10.0, 52.0), (24.0, 61.0), (-8.0, 38.0)),
        laeaNp -> Seq((10.0, 80.0), (-100.0, 65.0), (90.0, 72.5), (170.0, 55.0)))) {
      for ((lon, lat) <- pts) {
        val (dEl, dNl, dEp, dNp) = jacobian(p, lon, lat)
        val det = math.abs(dEl * dNp - dNl * dEp)
        val (mM, nu) = radiiM(p.ell, lat)
        val want = mM * nu * math.cos(math.toRadians(lat))
        assert(math.abs(det / want - 1.0) < 1e-6, s"($lon, $lat): $det vs $want")
      }
    }
  }

  test("LAEA polar: e → 0 reduces to the equal-area chord ρ = 2R·sin(c/2)") {
    val sph = CrsTransform.Ellipsoid("near-sphere", 6370000.0, 1e-12)
    val p = CrsTransform.LaeaParams(90.0, 0.0, 0.0, 0.0, sph)
    for (lat <- Seq(89.0, 75.0, 50.0, 10.0, -20.0)) {
      val (e, n) = p.fwd(33.0, lat)
      val rho = math.hypot(e, n)
      val want = 2.0 * sph.a * math.sin((math.Pi / 2.0 - math.toRadians(lat)) / 2.0)
      // RELATIVE tolerance: at f = 1e-12 the ln((1−es)/(1+es))/(2e) term
      // carries ~1e-16/e of rounding noise in q, which √(qp − q) amplifies
      // near the pole (≈6 mm of a 111 km ρ at 89°) — double-precision
      // artifact of the near-sphere trick, not projection error
      assert(math.abs(rho / want - 1.0) < 1e-6, s"lat $lat: rho $rho vs chord $want")
    }
    // and the pole itself maps to the origin
    val (e9, n9) = laeaNp.fwd(123.0, 90.0)
    assert(math.abs(e9) < 1e-6 && math.abs(n9) < 1e-6)
  }

  test("LAEA: round-trips (oblique across Europe, polar across the Arctic) and the antipode guard") {
    check(Prop.forAll(Gen.choose(-25.0, 45.0), Gen.choose(28.0, 72.0)) {
      (lon, lat) =>
        val (e, n) = laea35.fwd(lon, lat)
        val (lon2, lat2) = laea35.inv(e, n)
        math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9
    })
    check(Prop.forAll(Gen.choose(-180.0, 180.0), Gen.choose(0.0, 90.0)) {
      (lon, lat) =>
        val (e, n) = laeaNp.fwd(lon, lat)
        val (lon2, lat2) = laeaNp.inv(e, n)
        val dLon = math.abs(((lon2 - lon) % 360.0 + 540.0) % 360.0 - 180.0)
        (math.abs(lat - 90.0) < 1e-9 || dLon < 1e-9) && math.abs(lat2 - lat) < 1e-9
    })
    // the antipode of the oblique origin is undefined — loud typed failure
    val eAnti = intercept[IllegalArgumentException] { laea35.fwd(-170.0, -52.0) }
    assert(eAnti.getMessage.contains("antipode"))
    // deterministic near-pole pin: the classical cosφ-division fixed point
    // for φ(q) was 0.014° wrong at 89.999° (ScalaCheck found it the day
    // the polar aspect landed; the Newton-in-sinφ solve replaced it) —
    // keep the exact regression case
    for (lat <- Seq(89.85966316255292, 89.999)) {
      val (e, n) = laeaNp.fwd(0.0, lat)
      val (_, lat2) = laeaNp.inv(e, n)
      assert(math.abs(lat2 - lat) < 1e-9, s"near-pole φ(q): $lat -> $lat2")
    }
    // the inverse refuses coordinates outside the projection's bounding
    // disk (ρ > 2R_q) instead of clamping to the antipode — the same
    // fail-loudly posture as the TM Δλ and web-mercator extent guards
    val eDisk = intercept[IllegalArgumentException] {
      laeaNp.inv(2.1e7, 0.0) // 21,000 km from the pole: beyond 2R_q ≈ 12,742 km
    }
    assert(eDisk.getMessage.contains("bounding"), eDisk.getMessage)
    val eDiskOb = intercept[IllegalArgumentException] {
      laea35.inv(4321000.0 + 1.6e7, 3210000.0)
    }
    assert(eDiskOb.getMessage.contains("bounding"), eDiskOb.getMessage)
  }

  test("epsg1149 bridge: ETRS89 <-> WGS84 zero-shift, value-gated, sub-mm latitude reshape") {
    // same zero-shift math as 1188 (the ellipsoids differ in f only at the
    // 0.1 mm level); longitude exactly unchanged
    val br = CrsTransform.bridgeTransform("epsg1149",
      CrsTransform.Wgs84, CrsTransform.Etrs89).get
    for ((lon, lat) <- Seq((10.0, 52.0), (-5.0, 40.0), (25.0, 65.0))) {
      val (lon2, lat2) = br(lon, lat)
      assert(lon2 === lon)
      assert(math.abs(lat2 - lat) < 1e-9, s"Δφ ${lat2 - lat}")
    }
    // value gating is exhaustive: wrong value, wrong pair, same datum
    assert(CrsTransform.bridgeTransform("epsg1149",
      CrsTransform.Wgs84, CrsTransform.Grs80).isEmpty)
    assert(CrsTransform.bridgeTransform("epsg1188",
      CrsTransform.Wgs84, CrsTransform.Etrs89).isEmpty)
    assert(CrsTransform.bridgeTransform("epsg1149",
      CrsTransform.Etrs89, CrsTransform.Etrs89).isEmpty)
    assert(CrsTransform.bridgeTransform("epsg1149",
      CrsTransform.Grs80, CrsTransform.Etrs89).isEmpty, "NAD83 x ETRS89 never bridges")
    // end-to-end: 4326 -> 3035 with the bridge equals bridge-then-LAEA
    val t = CrsTransform.between(4326, 3035, datumBridge = "epsg1149").get
    val (gx, gy) = CrsTransform.bridgeTransform("epsg1149",
      CrsTransform.Wgs84, CrsTransform.Etrs89).get(5.0, 50.0)
    val (we, wn) = laea35.fwd(gx, gy)
    val (te, tn) = t(5.0, 50.0)
    assert(math.abs(te - we) < 1e-9 && math.abs(tn - wn) < 1e-9)
  }
}
