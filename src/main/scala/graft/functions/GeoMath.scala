package graft.functions

/** Geodesic pixel-area math on the WGS84 ellipsoid.
  *
  * A north-up geographic pixel spans [lat - dlat, lat + ...] × dlon; its
  * geodesic area is the ellipsoidal-trapezoid area
  *   area = dlonRad * (F(latTop) - F(latBottom))
  * where F is the meridional area integral per radian of longitude:
  *   F(phi) = b²/2 * [ sin(phi) / (1 - e²sin²(phi))
  *                     + 1/(2e) * ln((1 + e sin(phi)) / (1 - e sin(phi))) ]
  * (standard authalic-area formula; derivable from public geodesy texts).
  * Mirrors the reference's calc_area option —
  * raster2points/raster2points.py::get_area (anchor unverified, SURVEY §2A
  * A6); constants are checked by property tests (zone sums ≈ analytic
  * ellipsoid area) rather than against the unavailable reference source.
  *
  * [[pixelAreaM2]] is plain Scala, used inside the raster
  * PartitionReader (per-row, hot path, no Catalyst involved).
  */
object GeoMath {
  val SemiMajorM: Double = 6378137.0
  val Flattening: Double = 1.0 / 298.257223563
  val SemiMinorM: Double = SemiMajorM * (1.0 - Flattening)
  val E2: Double = Flattening * (2.0 - Flattening)
  val E: Double = math.sqrt(E2)

  /** Meridional area integral per radian of longitude, in m² (phi in degrees). */
  def zoneIntegral(phiDeg: Double): Double = {
    val s = math.sin(math.toRadians(phiDeg))
    val b2 = SemiMinorM * SemiMinorM
    b2 / 2.0 * (s / (1.0 - E2 * s * s) + 1.0 / (2.0 * E) * math.log((1.0 + E * s) / (1.0 - E * s)))
  }

  /** Area in m² of a pixel whose centroid latitude is `latDeg`, spanning
    * `dlatDeg` of latitude and `dlonDeg` of longitude.
    */
  def pixelAreaM2(latDeg: Double, dlatDeg: Double, dlonDeg: Double): Double = {
    val top = latDeg + dlatDeg / 2.0
    val bot = latDeg - dlatDeg / 2.0
    math.toRadians(dlonDeg) * math.abs(zoneIntegral(top) - zoneIntegral(bot))
  }

  /** Area in m² of an AFFINE-grid pixel — the [[pixelAreaM2]] trapezoid
    * generalized to rotated/sheared grids (round-15; closes the typed
    * rejection the full-affine reader left behind). A pixel of the affine
    * `[sx rx; ry −sy]` is a parallelogram in lon/lat with edge vectors
    * u = (sx, ry) (per col step) and v = (rx, −sy) (per row step), degrees.
    * Its ellipsoidal area is
    *
    *   ∫₀¹∫₀¹ M·N·cosφ · |det| ds dt,  φ = latc + (s−½)·p₂ + (t−½)·q₂
    *
    * where M·N·cosφ = F′(φ) is the zone-integral derivative. The t-integral
    * is taken EXACTLY through F (the trapezoid move: a difference of
    * [[zoneIntegral]]s), along whichever edge has the LARGER |lat-step|;
    * the remaining s-integral uses 2-point Gauss–Legendre (error
    * O(p₂⁴·F⁗) — ~1e-16 relative even for degree-scale pixels, and
    * IDENTICALLY ZERO when the other edge has no lat component, which
    * covers pure-lon shear exactly). On an axis-aligned grid
    * (rx = ry = 0) the branch delegates to [[pixelAreaM2]], so the
    * historical formula is reproduced bit-for-bit (the RasterPropertySpec
    * full-affine precedent).
    *
    * @param latDeg pixel-centroid latitude (degrees)
    * @param psX    pixelScaleX (lon degrees per col step)
    * @param psY    pixelScaleY magnitude (lat degrees per row step, north-up)
    * @param rotX   affine m01 (lon degrees per ROW step)
    * @param rotY   affine m10 (lat degrees per COL step)
    */
  def pixelAreaAffineM2(latDeg: Double, psX: Double, psY: Double,
      rotX: Double, rotY: Double): Double = {
    if (rotX == 0.0 && rotY == 0.0) return pixelAreaM2(latDeg, psY, psX)
    val u2 = rotY
    val v2 = -psY
    val det = math.abs(psX * v2 - u2 * rotX)
    if (det == 0.0) return 0.0 // degenerate affine: zero-area pixels
    // q2: the exact-integration lat-step (larger magnitude — also guarantees
    // q2 != 0, since q2 = 0 would force u2 = v2 = 0 and det = |psX·0| = 0,
    // caught above); p2: the Gauss-quadrature lat-step.
    val (p2, q2) = if (math.abs(v2) >= math.abs(u2)) (u2, v2) else (v2, u2)
    val off = math.abs(p2) / (2.0 * math.sqrt(3.0)) // Gauss–Legendre ±1/(2√3)
    def dF(phi: Double): Double =
      zoneIntegral(phi + q2 / 2.0) - zoneIntegral(phi - q2 / 2.0)
    val mean = (dF(latDeg - off) + dF(latDeg + off)) / 2.0
    math.toRadians(det / math.abs(q2)) * math.abs(mean)
  }
}
