package graft.sources.tiff

/** Coordinate transforms between the supported CRSs, implemented from PUBLIC
  * formulas only:
  *
  *   - Geographic ↔ Transverse Mercator (UTM zones): the Krüger n-series as
  *     presented in Karney 2011 ("Transverse Mercator with an accuracy of a
  *     few nanometers", J. Geodesy 85(8)) — the same series EPSG Guidance
  *     Note 7 part 2 tabulates for method 9807, summed by Clenshaw's
  *     recurrence on the complex ζ = ξ + iη. Truncated at n⁴: within a
  *     UTM zone's ±3° of central meridian the truncation error is
  *     sub-millimeter. Beyond ~10° of the central meridian the truncation
  *     grows fast and the map eventually stops being a diffeomorphism, so
  *     TM legs carry a HARD Δλ guard ([[MaxTmDeltaLonDeg]], round 16): a
  *     point transformed farther than that from the zone's central meridian
  *     throws a typed error instead of degrading silently — which also
  *     protects the boundary-bounds-interior argument the zip coverage
  *     check relies on.
  *   - Geographic ↔ Albers Equal-Area Conic (round 16): EPSG GN7-2 method
  *     9822 closed forms — the CONUS land-cover CRS family (EPSG:5070/6350)
  *     plus California Albers (EPSG:3310).
  *   - Geographic ↔ Lambert Conformal Conic 2SP (round 16): EPSG GN7-2
  *     method 9802 closed forms — the NAD83 California State Plane zones
  *     (EPSG:26941–26946, meters).
  *   - Geographic ↔ Polar Stereographic (round 16): EPSG GN7-2 methods
  *     9829 (variant B, standard parallel — the NSIDC sea-ice grids
  *     EPSG:3413/3976 and Antarctic EPSG:3031) and 9810 (variant A, scale
  *     at the pole — UPS, EPSG:5041/5042 and legacy 32661/32761), closed
  *     forms, pinned against GN7-2's own published worked examples.
  *   - Geographic ↔ Popular Visualisation Pseudo-Mercator (round 16):
  *     EPSG method 1024, EPSG:3857 "Web Mercator" — spherical Mercator
  *     arithmetic on the WGS84 semi-major axis applied to ELLIPSOIDAL
  *     latitude (the method's defining quirk, and why it is neither
  *     conformal nor equal-area). Every web-tile basemap ships in it.
  *   - Geographic ↔ Lambert Azimuthal Equal-Area (round 16): EPSG GN7-2
  *     method 9820 closed forms, oblique aspect (EPSG:3035 — the EU
  *     INSPIRE standard, CORINE-class land cover; ETRS89 datum, pinned
  *     against GN7-2's own worked example) and polar aspect
  *     (EPSG:3573–3576, the WGS84 North Pole LAEA family).
  *
  * This exists for the resample=nearest zip (SURVEY §2A A5): the most common
  * real pairing in land-cover work is a geographic mask against a projected
  * secondary (UTM, or CONUS Albers for NLCD-class products). The transform
  * plugs into the existing per-centroid inverse-affine sampling of the
  * columnar reader ([[GeoTiffPartitionReader]]'s value fillers, through
  * [[SecondaryMap.frac]]) — no new I/O or window machinery. CRS pairs
  * WITHOUT a supported transform keep their typed rejection.
  *
  * Three datum families are supported, each with its own [[Ellipsoid]]
  * identity (rounds 15–16): WGS84 — EPSG:4326 geographic, EPSG:326zz/327zz
  * UTM, the polar/web/polar-LAEA codes — NAD83 — EPSG:4269 geographic,
  * EPSG:269zz UTM, the Albers/LCC codes (GRS80 ellipsoid, the dominant US
  * land-cover pairing) — and ETRS89 — EPSG:4258 geographic, EPSG:3035 LAEA
  * (the EU pairing). ETRS89 and NAD83 share GRS80's CONSTANTS but are
  * different datums on different plates; the [[Etrs89]] instance compares
  * unequal to [[Grs80]] by name, so they can never silently compose.
  * EPSG:6350 is NAD83(2011), a later NAD83 REALIZATION (cm-level from the
  * 4269 original — far below any raster pixel) and is treated as the NAD83
  * family. Transforms never cross datums BY DEFAULT: the shifts are
  * time-dependent (meters today) and not computable from the public
  * defining constants alone, so a 4326 ↔ 26915 zip stays a typed rejection
  * rather than silently treating the datums as equal. Rounds 16 adds
  * OPT-IN bridges, each a published zero-shift geocentric translation the
  * option value must NAME: `option("datumBridge", "epsg1188")` for
  * WGS84 ↔ NAD83 (~2 m) and `option("datumBridge", "epsg1149")` for
  * WGS84 ↔ ETRS89 (~1 m) — the standard practical answers when meter-level
  * accuracy suffices, never applied silently, and never opening a pair the
  * value does not name.
  *
  * Scale design: [[Proj.fwd]]/[[Proj.inv]] are allocation-light
  * straight-line math (one specialized Tuple2 per call) suitable for the
  * per-pixel hot path; a 100 TB scan pays the same trig a native
  * reprojection engine does, distributed across tasks.
  */
object CrsTransform {

  /** Ellipsoid defining constants plus the derived Krüger series
    * coefficients (α forward / β inverse, Karney 2011 eq. 35–36, to n⁴).
    */
  // A case class: structural equality + serializability matter because
  // Proj (Serializable case classes) embeds one — a Proj captured in a
  // task closure must not crash job submission, and a deserialized copy
  // must still pass the datum gate (which therefore compares ==, not eq).
  final case class Ellipsoid(name: String, a: Double, f: Double) {
    val e2: Double = f * (2.0 - f)
    val e: Double = math.sqrt(e2)
    private val n = f / (2.0 - f)
    private val n2 = n * n
    private val n3 = n2 * n
    private val n4 = n2 * n2
    /** rectifying radius (Krüger's A) */
    val rectA: Double = a / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0)
    val a1: Double = n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0
    val a2: Double = 13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0
    val a3: Double = 61.0 * n3 / 240.0 - 103.0 * n4 / 140.0
    val a4: Double = 49561.0 * n4 / 161280.0
    val b1: Double = n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0
    val b2: Double = n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0
    val b3: Double = 17.0 * n3 / 480.0 - 37.0 * n4 / 840.0
    val b4: Double = 4397.0 * n4 / 161280.0
    override def toString: String = name
  }

  /** WGS84 (same defining constants as GeoMath's). */
  val Wgs84: Ellipsoid = Ellipsoid("WGS84", 6378137.0, 1.0 / 298.257223563)
  /** GRS80 — NAD83's ellipsoid; same semi-major axis, flattening differs
    * from WGS84's in the 9th significant digit (≈0.1 mm of polar radius).
    */
  val Grs80: Ellipsoid = Ellipsoid("GRS80", 6378137.0, 1.0 / 298.257222101)
  /** ETRS89 (round 16) — GEOMETRICALLY the same GRS80 ellipsoid as NAD83,
    * but a DIFFERENT datum (tied to the Eurasian plate; NAD83 to the North
    * American plate — they sit meters apart and drift). The Ellipsoid's
    * name participates in equality precisely so this instance compares
    * UNEQUAL to [[Grs80]]: the datum gate is identity, not constants, and
    * an ETRS89 raster must never silently compose with a NAD83 one.
    */
  val Etrs89: Ellipsoid = Ellipsoid("GRS80 (ETRS89)", 6378137.0, 1.0 / 298.257222101)

  private val K0 = 0.9996

  /** Hard Δλ bound for Transverse Mercator legs (round-16 advice): the n⁴
    * Krüger truncation is sub-millimeter within a zone's ±3° and still
    * sub-centimeter at ±10°, but degrades rapidly beyond — and far from the
    * meridian the truncated map stops being injective, which would also
    * undermine the coverage gate's boundary-bounds-interior argument. A
    * secondary DECLARED as UTM but spanning an unusually wide extent now
    * fails loudly instead of being sampled with silently growing error.
    */
  val MaxTmDeltaLonDeg: Double = 10.0

  /** A supported projection: geographic (lon, lat degrees) ↔ projected
    * (easting, northing meters) on its datum's ellipsoid.
    */
  sealed trait Proj extends Serializable {
    def ell: Ellipsoid
    /** geographic → projected */
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double)
    /** projected → geographic */
    def inv(easting: Double, northing: Double): (Double, Double)
  }

  // m(φ) — the reduced-length parallel-circle radius factor, shared by both
  // conic methods (GN7-2: m = cosφ / sqrt(1 − e²sin²φ))
  @inline private def mOf(ell: Ellipsoid, phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1.0 - ell.e2 * s * s)
  }

  // q(φ) — the authalic-latitude auxiliary (GN7-2):
  // q = (1−e²)[ sinφ/(1−e²sin²φ) − (1/2e)·ln((1−e·sinφ)/(1+e·sinφ)) ].
  // Shared by Albers (9822) and LAEA (9820) — both equal-area methods.
  @inline private def qAuthalic(ell: Ellipsoid, phi: Double): Double = {
    val s = math.sin(phi)
    (1.0 - ell.e2) * (s / (1.0 - ell.e2 * s * s) -
      math.log((1.0 - ell.e * s) / (1.0 + ell.e * s)) / (2.0 * ell.e))
  }

  // latitude from q — Newton on t = sinφ (dq/dt = 2(1−e²)/(1−e²t²)²,
  // positive everywhere, so the solve is monotone and needs NO cosφ
  // division). GN7-2's classical fixed-point iterates on φ itself and
  // divides by cosφ, which loses digits catastrophically near the pole
  // (measured: 0.014° of error at φ = 89.999° — a polar-LAEA round-trip
  // failure ScalaCheck found the day the polar aspect landed); the t-form
  // is exact there (t(pole) = 1 is a regular point of q). Shared by the
  // Albers and LAEA inverses.
  private def phiFromQ(ell: Ellipsoid, q: Double): Double = {
    var t = math.min(1.0, math.max(-1.0, q / 2.0))
    var i = 0
    while (i < 12) {
      val om = 1.0 - ell.e2 * t * t
      val qt = (1.0 - ell.e2) * (t / om -
        math.log((1.0 - ell.e * t) / (1.0 + ell.e * t)) / (2.0 * ell.e))
      t = math.min(1.0, math.max(-1.0, t + (q - qt) * om * om / (2.0 * (1.0 - ell.e2))))
      i += 1
    }
    math.asin(t)
  }

  /** Transverse Mercator parameters of one projected CRS. */
  final case class TmParams(cmDeg: Double, falseEasting: Double,
      falseNorthing: Double, scale: Double, ell: Ellipsoid = Wgs84)
    extends Proj {
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) =
      forward(this, lonDeg, latDeg)
    def inv(easting: Double, northing: Double): (Double, Double) =
      inverse(this, easting, northing)
  }

  /** Albers Equal-Area Conic (EPSG method 9822, ellipsoidal closed forms).
    * Derived constants follow GN7-2's symbols: n, C, ρ₀. The two standard
    * parallels must be distinct (every registered code's are).
    */
  final case class AlbersParams(lat0Deg: Double, cmDeg: Double,
      sp1Deg: Double, sp2Deg: Double,
      falseEasting: Double, falseNorthing: Double, ell: Ellipsoid)
    extends Proj {
    require(sp1Deg != sp2Deg, "Albers 2SP requires distinct standard parallels")
    @inline private def qOf(phi: Double): Double = qAuthalic(ell, phi)
    private val m1 = mOf(ell, math.toRadians(sp1Deg))
    private val m2 = mOf(ell, math.toRadians(sp2Deg))
    private val q1 = qOf(math.toRadians(sp1Deg))
    private val q2 = qOf(math.toRadians(sp2Deg))
    val n: Double = (m1 * m1 - m2 * m2) / (q2 - q1)
    val cBig: Double = m1 * m1 + n * q1
    val rho0: Double = ell.a * math.sqrt(cBig - n * qOf(math.toRadians(lat0Deg))) / n

    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val arg = cBig - n * qOf(math.toRadians(latDeg))
      // C − n·q < 0 means the point is beyond the projection's antipodal
      // limit — fail loudly, never emit NaN coordinates into a sampler
      require(arg >= 0,
        f"Albers (cm $cmDeg%.2f°, parallels $sp1Deg%.2f°/$sp2Deg%.2f°): " +
          f"latitude $latDeg%.4f° is outside the projection's domain")
      val rho = ell.a * math.sqrt(arg) / n
      val theta = n * math.toRadians(lonDeg - cmDeg)
      (falseEasting + rho * math.sin(theta),
        falseNorthing + rho0 - rho * math.cos(theta))
    }

    def inv(easting: Double, northing: Double): (Double, Double) = {
      val dx = easting - falseEasting
      val dy = rho0 - (northing - falseNorthing)
      // for n < 0 (southern-parallel cones) both ρ and the atan2 arguments
      // flip sign (GN7-2's stated rule); every registered code has n > 0
      val rho = (if (n < 0) -1.0 else 1.0) * math.sqrt(dx * dx + dy * dy)
      val theta = if (n < 0) math.atan2(-dx, -dy) else math.atan2(dx, dy)
      val q = (cBig - rho * rho * n * n / (ell.a * ell.a)) / n
      val lon = cmDeg + math.toDegrees(theta / n)
      (lon, math.toDegrees(phiFromQ(ell, q)))
    }
  }

  /** Lambert Azimuthal Equal-Area (EPSG method 9820, ellipsoidal closed
    * forms — GN7-2 symbols qₚ, β, R_q, D, B). Two aspects:
    *   - OBLIQUE (|lat0| < 90): the EPSG:3035 shape (ETRS89-LAEA, the EU
    *     standard for CORINE-class land cover), pinned against GN7-2's own
    *     worked example;
    *   - POLAR (|lat0| = 90): ρ = a·√(qₚ − q), the North-Pole LAEA family
    *     (EPSG:3573–3576) — the general oblique forms are 0/0 there.
    */
  final case class LaeaParams(lat0Deg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double, ell: Ellipsoid)
    extends Proj {
    private val north = lat0Deg > 0
    private val polar = math.abs(lat0Deg) == 90.0
    private val qp = qAuthalic(ell, math.Pi / 2.0)
    /** authalic sphere radius */
    val rq: Double = ell.a * math.sqrt(qp / 2.0)
    private val beta0 = math.asin(
      math.min(1.0, math.max(-1.0, qAuthalic(ell, math.toRadians(lat0Deg)) / qp)))
    private val sinB0 = math.sin(beta0)
    private val cosB0 = math.cos(beta0)
    private val dBig =
      if (polar) Double.NaN
      else ell.a * mOf(ell, math.toRadians(lat0Deg)) / (rq * cosB0)

    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val q = qAuthalic(ell, math.toRadians(latDeg))
      val dl = math.toRadians(lonDeg - lon0Deg)
      if (polar) {
        val s = if (north) 1.0 else -1.0
        // qp − s·q ≥ 0 always (|q| ≤ qp); exact 0 at the projection pole
        val rho = ell.a * math.sqrt(math.max(0.0, qp - s * q))
        (falseEasting + rho * math.sin(dl),
          falseNorthing - s * rho * math.cos(dl))
      } else {
        val beta = math.asin(math.min(1.0, math.max(-1.0, q / qp)))
        val denom = 1.0 + sinB0 * math.sin(beta) + cosB0 * math.cos(beta) * math.cos(dl)
        // denom → 0 only at the ANTIPODE of the projection origin, where
        // LAEA is undefined — fail loudly, never emit infinities
        require(denom > 1e-12,
          f"LAEA (origin $lat0Deg%.2f°, $lon0Deg%.2f°): point " +
            f"($lonDeg%.4f°, $latDeg%.4f°) is at the projection's antipode " +
            "where the map is undefined; this raster pairing cannot be " +
            "transformed reliably")
        val b = rq * math.sqrt(2.0 / denom)
        (falseEasting + b * dBig * math.cos(beta) * math.sin(dl),
          falseNorthing + (b / dBig) *
            (cosB0 * math.sin(beta) - sinB0 * math.cos(beta) * math.cos(dl)))
      }
    }

    def inv(easting: Double, northing: Double): (Double, Double) = {
      val dx = easting - falseEasting
      val dy = northing - falseNorthing
      // out-of-disk guard (both aspects): LAEA's valid image is the disk
      // ρ ≤ 2·R_q; beyond it the inverse would CLAMP to the antipode and
      // a zip would silently sample the wrong hemisphere — mis-declared
      // or corrupt coordinates fail loudly instead (the TM Δλ / web
      // mercator extent posture). The 1e-6 slack absorbs rounding on
      // points exactly at the bounding circle.
      def diskGuard(rho: Double): Unit =
        require(rho <= 2.0 * rq * (1.0 + 1e-6),
          f"LAEA (origin $lat0Deg%.2f°, $lon0Deg%.2f°): projected point " +
            f"($easting%.1f, $northing%.1f) lies ρ=$rho%.1f m from the " +
            f"origin, outside the projection's ${2.0 * rq}%.1f m bounding " +
            "circle — not a valid LAEA coordinate; this raster pairing " +
            "cannot be transformed reliably")
      if (polar) {
        val s = if (north) 1.0 else -1.0
        val rho = math.hypot(dx, dy)
        diskGuard(rho)
        val q = s * (qp - rho * rho / (ell.a * ell.a))
        val lon = lon0Deg + math.toDegrees(math.atan2(dx, -s * dy))
        (lon, math.toDegrees(phiFromQ(ell, q)))
      } else {
        val rho = math.hypot(dx / dBig, dBig * dy)
        diskGuard(rho)
        if (rho < 1e-12) (lon0Deg, lat0Deg) // the origin itself
        else {
          val ce = 2.0 * math.asin(math.min(1.0, rho / (2.0 * rq)))
          val sinCe = math.sin(ce)
          val cosCe = math.cos(ce)
          val betaP = math.asin(math.min(1.0, math.max(-1.0,
            cosCe * sinB0 + dBig * dy * sinCe * cosB0 / rho)))
          val lon = lon0Deg + math.toDegrees(math.atan2(dx * sinCe,
            dBig * rho * cosB0 * cosCe - dBig * dBig * dy * sinB0 * sinCe))
          (lon, math.toDegrees(phiFromQ(ell, qp * math.sin(betaP))))
        }
      }
    }
  }

  /** Lambert Conformal Conic, 2 standard parallels (EPSG method 9802,
    * ellipsoidal closed forms). GN7-2 symbols: t, m, n, F, ρ₀.
    */
  final case class LccParams(lat0Deg: Double, cmDeg: Double,
      sp1Deg: Double, sp2Deg: Double,
      falseEasting: Double, falseNorthing: Double, ell: Ellipsoid)
    extends Proj {
    require(sp1Deg != sp2Deg, "LCC 2SP requires distinct standard parallels")
    // t(φ) = tan(π/4 − φ/2) / ((1 − e·sinφ)/(1 + e·sinφ))^(e/2)
    @inline private def tOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4.0 - phi / 2.0) /
        math.pow((1.0 - ell.e * s) / (1.0 + ell.e * s), ell.e / 2.0)
    }
    private val m1 = mOf(ell, math.toRadians(sp1Deg))
    private val m2 = mOf(ell, math.toRadians(sp2Deg))
    private val t1 = tOf(math.toRadians(sp1Deg))
    private val t2 = tOf(math.toRadians(sp2Deg))
    val n: Double = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    val fBig: Double = m1 / (n * math.pow(t1, n))
    val rho0: Double = ell.a * fBig * math.pow(tOf(math.toRadians(lat0Deg)), n)

    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val rho = ell.a * fBig * math.pow(tOf(math.toRadians(latDeg)), n)
      val theta = n * math.toRadians(lonDeg - cmDeg)
      (falseEasting + rho * math.sin(theta),
        falseNorthing + rho0 - rho * math.cos(theta))
    }

    def inv(easting: Double, northing: Double): (Double, Double) = {
      val dx = easting - falseEasting
      val dy = rho0 - (northing - falseNorthing)
      val rho = (if (n < 0) -1.0 else 1.0) * math.sqrt(dx * dx + dy * dy)
      val theta = if (n < 0) math.atan2(-dx, -dy) else math.atan2(dx, dy)
      val tP = math.pow(rho / (ell.a * fBig), 1.0 / n)
      // conformal→geodetic latitude by GN7-2's fixed-point iteration
      var phi = math.Pi / 2.0 - 2.0 * math.atan(tP)
      var i = 0
      while (i < 8) {
        val s = math.sin(phi)
        phi = math.Pi / 2.0 - 2.0 * math.atan(
          tP * math.pow((1.0 - ell.e * s) / (1.0 + ell.e * s), ell.e / 2.0))
        i += 1
      }
      (cmDeg + math.toDegrees(theta / n), math.toDegrees(phi))
    }
  }

  /** Polar Stereographic, variant B (EPSG method 9829): the projection is
    * defined by its standard parallel `latTsDeg` (signed — its sign picks
    * the aspect; every registered code's λ0 is the GN7-2 "longitude of
    * origin"). Closed ellipsoidal forms; the south aspect folds into the
    * north-aspect equations by Snyder's sign-reversal rule (Working Manual
    * p. 161), which reproduces GN7-2's south-case E/N orientation exactly
    * (pinned against GN7-2's own worked example in CrsTransformSpec).
    */
  final case class PolarStereoBParams(latTsDeg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double, ell: Ellipsoid)
    extends Proj {
    require(math.abs(latTsDeg) > 0.0, "variant B needs a signed standard parallel")
    private val north = latTsDeg > 0
    /** ρ = rhoFactor·t(φ); a·m(φF)/t(φF) makes the parallel scale exactly
      * 1 at φF (variant B's definition).
      */
    val rhoFactor: Double = {
      val phiF = math.toRadians(math.abs(latTsDeg))
      ell.a * mOf(ell, phiF) / tPolar(ell, phiF)
    }
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) =
      polarFwd(ell, north, rhoFactor, lon0Deg, falseEasting, falseNorthing,
        lonDeg, latDeg)
    def inv(easting: Double, northing: Double): (Double, Double) =
      polarInv(ell, north, rhoFactor, lon0Deg, falseEasting, falseNorthing,
        easting, northing)
  }

  /** Polar Stereographic, variant A (EPSG method 9810): defined by the
    * scale factor `k0` AT the pole — the UPS parameterization. Same
    * closed forms as variant B with ρ = 2·a·k0·t / √((1+e)^(1+e)(1−e)^(1−e))
    * (GN7-2's variant-A radius).
    */
  final case class PolarStereoAParams(north: Boolean, k0: Double,
      lon0Deg: Double, falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid)
    extends Proj {
    val rhoFactor: Double =
      2.0 * ell.a * k0 / math.sqrt(
        math.pow(1.0 + ell.e, 1.0 + ell.e) * math.pow(1.0 - ell.e, 1.0 - ell.e))
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) =
      polarFwd(ell, north, rhoFactor, lon0Deg, falseEasting, falseNorthing,
        lonDeg, latDeg)
    def inv(easting: Double, northing: Double): (Double, Double) =
      polarInv(ell, north, rhoFactor, lon0Deg, falseEasting, falseNorthing,
        easting, northing)
  }

  /** Conformal colatitude tangent in the NORTH-folded frame (GN7-2 /
    * Snyder 15-9): t = tan(π/4 − φ/2)·[(1+e·sinφ)/(1−e·sinφ)]^(e/2).
    * t(π/2) = 0 (the pole), t grows without bound toward the OPPOSITE
    * pole — hence [[MinPolarFoldedLatDeg]].
    */
  @inline private def tPolar(ell: Ellipsoid, phi: Double): Double = {
    val s = math.sin(phi)
    math.tan(math.Pi / 4.0 - phi / 2.0) *
      math.pow((1.0 + ell.e * s) / (1.0 - ell.e * s), ell.e / 2.0)
  }

  /** Hard folded-latitude bound for polar stereographic forward legs: the
    * closed forms are exact (no series truncation), but ρ diverges toward
    * the opposite pole; beyond 60° into the opposite hemisphere ρ exceeds
    * ~25,000 km — far outside any published polar grid's extent — so a
    * point there signals a mis-declared CRS and fails loudly rather than
    * sampling a wildly-distorted position.
    */
  val MinPolarFoldedLatDeg: Double = -60.0

  private def polarFwd(ell: Ellipsoid, north: Boolean, rhoFactor: Double,
      lon0Deg: Double, fe: Double, fn: Double,
      lonDeg: Double, latDeg: Double): (Double, Double) = {
    val s = if (north) 1.0 else -1.0
    val phiFold = s * math.toRadians(latDeg)
    require(math.toDegrees(phiFold) > MinPolarFoldedLatDeg,
      f"polar stereographic (${if (north) "north" else "south"} aspect): " +
        f"latitude $latDeg%.4f° is more than ${-MinPolarFoldedLatDeg}%.0f° " +
        "into the opposite hemisphere — outside any published polar grid; " +
        "this raster pairing cannot be transformed reliably")
    val rho = rhoFactor * tPolar(ell, phiFold)
    val theta = math.toRadians(lonDeg - lon0Deg)
    (fe + rho * math.sin(theta), fn - s * rho * math.cos(theta))
  }

  private def polarInv(ell: Ellipsoid, north: Boolean, rhoFactor: Double,
      lon0Deg: Double, fe: Double, fn: Double,
      easting: Double, northing: Double): (Double, Double) = {
    val s = if (north) 1.0 else -1.0
    val dx = easting - fe
    val dy = northing - fn
    val tP = math.hypot(dx, dy) / rhoFactor
    // at the pole atan2(0, 0) = 0 — the conventional λ = λ0 there
    val lon = lon0Deg + math.toDegrees(math.atan2(dx, -s * dy))
    // conformal→geodetic by GN7-2's fixed-point iteration (same shape as
    // the LCC leg); seeded at the conformal sphere value
    var phi = math.Pi / 2.0 - 2.0 * math.atan(tP)
    var i = 0
    while (i < 8) {
      val sn = math.sin(phi)
      phi = math.Pi / 2.0 - 2.0 * math.atan(
        tP * math.pow((1.0 - ell.e * sn) / (1.0 + ell.e * sn), ell.e / 2.0))
      i += 1
    }
    (lon, s * math.toDegrees(phi))
  }

  /** Popular Visualisation Pseudo-Mercator (EPSG method 1024; EPSG:3857).
    * x = a·λ, y = a·ln(tan(π/4 + φ/2)) with ELLIPSOIDAL φ on the sphere of
    * radius a — the method's published definition (and why a 1024 grid is
    * NOT the ellipsoidal Mercator 9804: they differ by ~20 km at mid
    * latitudes, pinned in CrsTransformSpec). The inverse is analytic, so
    * round-trips close to machine precision with no iteration.
    */
  final case class WebMercParams(ell: Ellipsoid = Wgs84) extends Proj {
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      require(math.abs(latDeg) <= MaxWebMercatorLatDeg,
        f"EPSG:3857 (Pseudo-Mercator): latitude $latDeg%.4f° is beyond the " +
          f"±$MaxWebMercatorLatDeg%.2f° published extent of the projection " +
          "(y diverges at the poles); this raster pairing cannot be " +
          "transformed reliably")
      val phi = math.toRadians(latDeg)
      (ell.a * math.toRadians(lonDeg),
        ell.a * math.log(math.tan(math.Pi / 4.0 + phi / 2.0)))
    }
    def inv(easting: Double, northing: Double): (Double, Double) =
      (math.toDegrees(easting / ell.a),
        math.toDegrees(2.0 * math.atan(math.exp(northing / ell.a)) - math.Pi / 2.0))
  }

  /** The published square Web-Mercator extent is |φ| ≤ 2·atan(e^π) − π/2
    * ≈ 85.051129° (where |y| = a·π); the guard sits just above it so grids
    * at exactly the standard extent pass.
    */
  val MaxWebMercatorLatDeg: Double = 85.06

  /** UTM zone parameters: EPSG:326zz/327zz (WGS84 north/south) and
    * EPSG:269zz (NAD83 north, zones 1–23 — the published range).
    */
  def utmParams(epsg: Int): Option[TmParams] = {
    val (zone, south, ell) =
      if (epsg >= 32601 && epsg <= 32660) (epsg - 32600, false, Wgs84)
      else if (epsg >= 32701 && epsg <= 32760) (epsg - 32700, true, Wgs84)
      else if (epsg >= 26901 && epsg <= 26923) (epsg - 26900, false, Grs80)
      else return None
    Some(TmParams(zone * 6.0 - 183.0, 500000.0, if (south) 1e7 else 0.0, K0, ell))
  }

  /** Conic registry (round 16): published EPSG parameter sets, NAD83 family.
    *   - 5070  NAD83 / Conus Albers (NLCD-class CONUS land cover);
    *     6350 is NAD83(2011) / Conus Albers — identical parameters, a
    *     cm-level later realization of NAD83, treated as the same family
    *   - 3310  NAD83 / California Albers
    *   - 26941–26946  NAD83 / California SPCS zones 1–6 (LCC 2SP, meters;
    *     SPCS83 parameters: FE 2 000 000 m, FN 500 000 m)
    */
  def conicParams(epsg: Int): Option[Proj] = epsg match {
    case 5070 | 6350 =>
      Some(AlbersParams(23.0, -96.0, 29.5, 45.5, 0.0, 0.0, Grs80))
    case 3310 =>
      Some(AlbersParams(0.0, -120.0, 34.0, 40.5, 0.0, -4000000.0, Grs80))
    case 26941 =>
      Some(LccParams(39.0 + 20.0 / 60, -122.0, 40.0, 41.0 + 40.0 / 60, 2e6, 5e5, Grs80))
    case 26942 =>
      Some(LccParams(37.0 + 40.0 / 60, -122.0, 38.0 + 20.0 / 60, 39.0 + 50.0 / 60, 2e6, 5e5, Grs80))
    case 26943 =>
      Some(LccParams(36.5, -120.5, 37.0 + 4.0 / 60, 38.0 + 26.0 / 60, 2e6, 5e5, Grs80))
    case 26944 =>
      Some(LccParams(35.0 + 20.0 / 60, -119.0, 36.0, 37.0 + 15.0 / 60, 2e6, 5e5, Grs80))
    case 26945 =>
      Some(LccParams(33.5, -118.0, 34.0 + 2.0 / 60, 35.0 + 28.0 / 60, 2e6, 5e5, Grs80))
    case 26946 =>
      Some(LccParams(32.0 + 10.0 / 60, -116.25, 32.0 + 47.0 / 60, 33.0 + 53.0 / 60, 2e6, 5e5, Grs80))
    case _ => None
  }

  /** Polar + web registry (round 16): published EPSG parameter sets, all
    * WGS84 datum.
    *   - 3413  WGS 84 / NSIDC Sea Ice Polar Stereographic North
    *     (variant B: standard parallel 70°N, λ0 −45°)
    *   - 3976  WGS 84 / NSIDC Sea Ice Polar Stereographic South
    *     (variant B: standard parallel 70°S, λ0 0°)
    *   - 3031  WGS 84 / Antarctic Polar Stereographic
    *     (variant B: standard parallel 71°S, λ0 0°)
    *   - 5041/5042  WGS 84 / UPS North/South (E,N) — variant A, k0 0.994
    *     at the pole, FE = FN = 2 000 000 m; 32661/32761 are the legacy
    *     codes for the same grids
    *   - 3857  WGS 84 / Pseudo-Mercator (method 1024)
    */
  def polarWebParams(epsg: Int): Option[Proj] = epsg match {
    case 3413 => Some(PolarStereoBParams(70.0, -45.0, 0.0, 0.0, Wgs84))
    case 3976 => Some(PolarStereoBParams(-70.0, 0.0, 0.0, 0.0, Wgs84))
    case 3031 => Some(PolarStereoBParams(-71.0, 0.0, 0.0, 0.0, Wgs84))
    case 5041 | 32661 =>
      Some(PolarStereoAParams(north = true, 0.994, 0.0, 2e6, 2e6, Wgs84))
    case 5042 | 32761 =>
      Some(PolarStereoAParams(north = false, 0.994, 0.0, 2e6, 2e6, Wgs84))
    case 3857 => Some(WebMercParams())
    case _ => None
  }

  /** LAEA registry (round 16): published EPSG parameter sets.
    *   - 3035  ETRS89-extended / LAEA Europe — the EU INSPIRE standard
    *     (CORINE-class land cover ships in it); ETRS89 datum
    *   - 3573–3576  WGS 84 / North Pole LAEA (Canada λ0 −100°, Atlantic
    *     −40°, Europe 10°, Russia 90°) — polar aspect, FE = FN = 0
    */
  def laeaParams(epsg: Int): Option[Proj] = epsg match {
    case 3035 => Some(LaeaParams(52.0, 10.0, 4321000.0, 3210000.0, Etrs89))
    case 3573 => Some(LaeaParams(90.0, -100.0, 0.0, 0.0, Wgs84))
    case 3574 => Some(LaeaParams(90.0, -40.0, 0.0, 0.0, Wgs84))
    case 3575 => Some(LaeaParams(90.0, 10.0, 0.0, 0.0, Wgs84))
    case 3576 => Some(LaeaParams(90.0, 90.0, 0.0, 0.0, Wgs84))
    case _ => None
  }

  /** Every supported projected CRS: UTM zones, the conic registry, the
    * polar/web registry, then LAEA.
    */
  def projParams(epsg: Int): Option[Proj] =
    utmParams(epsg).orElse(conicParams(epsg)).orElse(polarWebParams(epsg))
      .orElse(laeaParams(epsg))

  /** Geographic (lon, lat degrees) → projected (easting, northing meters). */
  def forward(p: TmParams, lonDeg: Double, latDeg: Double): (Double, Double) = {
    val el = p.ell
    val phi = math.toRadians(latDeg)
    val dl = math.toRadians(lonDeg - p.cmDeg)
    val s = math.sin(phi)
    // conformal-latitude tangent via Gudermannian composition (Karney eq.
    // 7–9): t = sinh(q), with the sinh taken from one exp
    val eq = math.exp(atanh(s) - el.e * atanh(el.e * s))
    val t = (eq - 1.0 / eq) / 2.0
    val cosD = math.cos(dl)
    val xiP = math.atan2(t, cosD)
    val etaP = asinh(math.sin(dl) / math.sqrt(t * t + cosD * cosD))
    val (xi, eta) = kruger(el.a1, el.a2, el.a3, el.a4, 1.0, xiP, etaP)
    (p.falseEasting + p.scale * el.rectA * eta,
      p.falseNorthing + p.scale * el.rectA * xi)
  }

  /** Projected (easting, northing meters) → geographic (lon, lat degrees).
    * The final conformal→geodetic latitude step uses Karney's Newton
    * iteration on τ (eq. 19–21) rather than a truncated χ-series, so the
    * round-trip closes to machine precision (pinned by ScalaCheck).
    *
    * As in [[forward]], each sinh comes from one exp: sinh(η′) once, and
    * σ = sinh(e·atanh(e·sinφ)) with its cosh, √(1 + σ²), per Newton step.
    * E − 1/E carries an absolute error of a few ulps of 1, so dλ and τ move
    * by about 1e-16 rad, far inside the 1e-12° pin against the
    * term-by-term reference (CrsTransformSpec).
    */
  def inverse(p: TmParams, easting: Double, northing: Double): (Double, Double) = {
    val el = p.ell
    val xi = (northing - p.falseNorthing) / (p.scale * el.rectA)
    val eta = (easting - p.falseEasting) / (p.scale * el.rectA)
    val (xiP, etaP) = kruger(el.b1, el.b2, el.b3, el.b4, -1.0, xi, eta)
    val ee = math.exp(etaP)
    val sinhE = (ee - 1.0 / ee) / 2.0
    val cosX = math.cos(xiP)
    val tauP = math.sin(xiP) / math.sqrt(sinhE * sinhE + cosX * cosX)
    val dl = math.atan2(sinhE, cosX)
    // Newton: solve tauPrime(tau) = tauP for tau = tan(phi)
    var tau = tauP
    var i = 0
    while (i < 5) {
      val sq = math.sqrt(1.0 + tau * tau)
      val es = math.exp(el.e * atanh(el.e * tau / sq))
      val sigma = (es - 1.0 / es) / 2.0
      val coshS = (es + 1.0 / es) / 2.0
      val fTau = tau * coshS - sigma * sq
      val dTau = (coshS * sq - sigma * tau) *
        (1.0 - el.e2) * sq / (1.0 + (1.0 - el.e2) * tau * tau)
      tau += (tauP - fTau) / dTau
      i += 1
    }
    (p.cmDeg + math.toDegrees(dl), math.toDegrees(math.atan(tau)))
  }

  /** The Krüger series ζ + sign·Σⱼ cⱼ·sin(2jζ), j = 1..4, on the complex
    * ζ = ξ + iη: the forward map takes the α coefficients and sign +1, the
    * inverse the β coefficients and sign −1. Summed by Clenshaw's recurrence
    * yⱼ = 2cos(2ζ)·yⱼ₊₁ − yⱼ₊₂ + cⱼ, whose sum is sin(2ζ)·y₁ (Karney 2011
    * §4, GeographicLib's form), so the whole series costs one sin/cos pair
    * of 2ξ and one exp of 2η (for cosh and sinh) instead of a
    * sin·cosh and cos·sinh per term.
    */
  @inline private def kruger(c1: Double, c2: Double, c3: Double, c4: Double,
      sign: Double, xi: Double, eta: Double): (Double, Double) = {
    val s2 = math.sin(2.0 * xi)
    val c2x = math.cos(2.0 * xi)
    val e2 = math.exp(2.0 * eta)
    val ch2 = (e2 + 1.0 / e2) / 2.0
    val sh2 = (e2 - 1.0 / e2) / 2.0
    // a = 2cos(2ζ) = 2(cos2ξ·cosh2η − i·sin2ξ·sinh2η)
    val ar = 2.0 * c2x * ch2
    val ai = -2.0 * s2 * sh2
    // y₄ = c₄; y₃ = a·y₄ + c₃; y₂ = a·y₃ − y₄ + c₂; y₁ = a·y₂ − y₃ + c₁
    val y3r = ar * c4 + c3
    val y3i = ai * c4
    val y2r = ar * y3r - ai * y3i - c4 + c2
    val y2i = ar * y3i + ai * y3r
    val y1r = ar * y2r - ai * y2i - y3r + c1
    val y1i = ar * y2i + ai * y2r - y3i
    // sin(2ζ) = sin2ξ·cosh2η + i·cos2ξ·sinh2η
    val zr = s2 * ch2
    val zi = c2x * sh2
    (xi + sign * (zr * y1r - zi * y1i), eta + sign * (zr * y1i + zi * y1r))
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1.0))

  /** The opt-in NAD83 ↔ WGS84 bridge: the published EPSG:1188 "NAD83 to
    * WGS84 (1)" transform — a geocentric translation (method 9603) with
    * dX = dY = dZ = 0, stated accuracy ~2 m (the real shift is
    * time-dependent and grows ~1–2 cm/year; this is the standard practical
    * answer when meter-level accuracy suffices). Implemented properly
    * through geocentric XYZ at h = 0 (geodetic→XYZ on the source ellipsoid,
    * zero shift, XYZ→geodetic on the target by fixed-point iteration on
    * tanφ) rather than as an identity — the two ellipsoids' flattenings
    * differ, even if only at the 0.1 mm level.
    */
  def epsg1188Bridge(from: Ellipsoid, to: Ellipsoid)(
      lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val s = math.sin(phi)
    val nu = from.a / math.sqrt(1.0 - from.e2 * s * s)
    // h = 0: the raster's coordinates are surface positions
    val pr = nu * math.cos(phi) // sqrt(X² + Y²); longitude is unchanged
    val z = nu * (1.0 - from.e2) * s
    var phi2 = math.atan2(z, pr * (1.0 - to.e2))
    var i = 0
    while (i < 5) {
      val s2 = math.sin(phi2)
      val nu2 = to.a / math.sqrt(1.0 - to.e2 * s2 * s2)
      phi2 = math.atan2(z + to.e2 * nu2 * s2, pr)
      i += 1
    }
    (lonDeg, math.toDegrees(phi2))
  }

  /** The zero-shift bridge a given option VALUE applies to a given datum
    * pair — the value is informed consent for ONE SPECIFIC published
    * transform, never a generic "ignore datums" switch:
    *   - `epsg1188` → WGS84 ↔ NAD83 ("NAD83 to WGS84 (1)", ~2 m)
    *   - `epsg1149` → WGS84 ↔ ETRS89 ("ETRS89 to WGS84 (1)", ~1 m — the
    *     plates drift ~2.5 cm/year, same caveat class as 1188)
    * Both are geocentric translations with dX = dY = dZ = 0, so they share
    * [[epsg1188Bridge]]'s math (which is NOT an identity: the ellipsoid
    * change still reshapes latitude); any other (value, pair) combination
    * returns None and the caller keeps its typed rejection.
    */
  def bridgeTransform(value: String, a: Ellipsoid, b: Ellipsoid)
      : Option[(Double, Double) => (Double, Double)] = {
    val pair = Set(a, b)
    if (a == b) None
    else if (value.equalsIgnoreCase("epsg1188") && pair == Set(Wgs84, Grs80))
      Some(epsg1188Bridge(a, b) _)
    else if (value.equalsIgnoreCase("epsg1149") && pair == Set(Wgs84, Etrs89))
      Some(epsg1188Bridge(a, b) _)
    else None
  }

  /** A CRS's place in the supported set: its datum ellipsoid, plus
    * projection parameters when projected (None = the datum's geographic
    * CRS).
    */
  private def side(epsg: Int): Option[(Ellipsoid, Option[Proj])] =
    if (epsg == 4326) Some((Wgs84, None))
    else if (epsg == 4269) Some((Grs80, None))
    else if (epsg == 4258) Some((Etrs89, None)) // ETRS89 geographic
    else projParams(epsg).map(p => (p.ell, Some(p)))

  /** Coordinate transform from CRS `src` to CRS `dst`, when both are in
    * the supported set AND share a datum: decomposed as src→geographic→dst
    * on that datum's ellipsoid. A non-empty `datumBridge` option value
    * additionally admits exactly the pair that value names (see
    * [[bridgeTransform]]: `"epsg1188"` = WGS84 ↔ NAD83, `"epsg1149"` =
    * WGS84 ↔ ETRS89, both ~1–2 m zero-shift transforms); no other datum
    * pair is ever bridged, and a value never opens a pair it does not
    * name. None for any other pair, so the caller keeps its typed
    * rejection. TM legs enforce [[MaxTmDeltaLonDeg]] (round-16 advice) —
    * a geographic intermediate farther than that from a TM side's central
    * meridian throws a typed error instead of degrading silently.
    */
  def between(src: Int, dst: Int, datumBridge: String = "")
      : Option[(Double, Double) => (Double, Double)] =
    for {
      (ea, pa) <- side(src)
      (eb, pb) <- side(dst)
      bridge <-
        if (ea == eb) Some(None: Option[(Double, Double) => (Double, Double)])
        else if (datumBridge.nonEmpty)
          bridgeTransform(datumBridge, ea, eb).map(br =>
            Some(br): Option[(Double, Double) => (Double, Double)])
        else None // cross-datum without the opt-in: keep the typed rejection
    } yield {
      // Δλ guard bounds per TM side (NaN = no TM on that side: every
      // comparison with NaN is false, so the guard is branch-predicted away)
      def cmOf(p: Option[Proj]): Double = p match {
        case Some(tm: TmParams) => tm.cmDeg
        case _ => Double.NaN
      }
      val srcCm = cmOf(pa)
      val dstCm = cmOf(pb)
      def guard(lon: Double, cm: Double, epsg: Int): Unit =
        if (math.abs(lon - cm) > MaxTmDeltaLonDeg)
          throw new IllegalArgumentException(
            f"EPSG:$epsg (Transverse Mercator, central meridian $cm%.1f°): " +
              f"point at longitude $lon%.4f° is ${math.abs(lon - cm)}%.2f° from " +
              f"the central meridian — beyond the ±$MaxTmDeltaLonDeg%.0f° bound " +
              "where the Krüger n⁴ series is accurate; this raster pairing " +
              "cannot be transformed reliably")
      (x: Double, y: Double) => {
        val (gx0, gy0) = pa match {
          case Some(p) => p.inv(x, y)
          case None => (x, y)
        }
        guard(gx0, srcCm, src)
        val (gx, gy) = bridge match {
          case Some(br) => br(gx0, gy0)
          case None => (gx0, gy0)
        }
        guard(gx, dstCm, dst)
        pb match {
          case Some(p) => p.fwd(gx, gy)
          case None => (gx, gy)
        }
      }
    }

  /** The transform a resample=nearest zip needs to sample raster `b` at
    * raster `a`'s pixel centroids — Some only when both files DECLARE an
    * EPSG, the codes differ, and the pair is supported: same datum, or
    * the exact pair a non-empty `datumBridge` value names (epsg1188 =
    * WGS84 ↔ NAD83, epsg1149 = WGS84 ↔ ETRS89; ~1–2 m zero-shift).
    * Same/undeclared CRSs return None and take the affine-only path
    * (with its existing equality gates).
    */
  def zipTransform(a: TiffTags.RasterMeta, b: TiffTags.RasterMeta,
      datumBridge: String = "")
      : Option[(Double, Double) => (Double, Double)] =
    for {
      ea <- a.epsg
      eb <- b.epsg
      if ea != eb
      t <- between(ea, eb, datumBridge)
    } yield t
}
