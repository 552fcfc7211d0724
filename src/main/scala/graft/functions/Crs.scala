package graft.functions

/** Parameterized CRS registry (VERDICT r12 missing #3): the projections a
  * real geodata user hits right after 4326/3857/UTM — national Lambert
  * conformal conic grids and the ETRS89 UTM zones — behind the same
  * exact-replay discipline as [[Wkb.lonLatToUtm]] (a11s): closed-form
  * forward chains an oracle can replay op-for-op from the engine's own
  * published constants, fixed-iteration inverses (never
  * iterate-to-convergence, which would not be a pure function of the
  * inputs), and loud rejection outside the registry.
  *
  * Datum stance, unchanged from [[Wkb.reproject]]: NO datum shifts. Every
  * registry entry's datum (ETRS89, RGF93, NAD83) is geocentric and
  * treated as identical to WGS84 — the standard zero-order identity
  * (cm-level for ETRS89/RGF93, ~1-2 m for NAD83, far under this
  * library's meter-grain quantization contract). The GRS80 ELLIPSOID
  * constants are still honored exactly (its flattening differs from
  * WGS84 in the 12th digit); what is skipped is only the (near-zero)
  * Helmert shift. Grids on non-geocentric datums (OSGB36, DHDN
  * Gauss-Krüger…) stay loudly unsupported — a silently-wrong transform
  * is worse than a loud unsupported one.
  *
  * Formula provenance: Lambert conformal conic 2-SP per Snyder, "Map
  * Projections — A Working Manual" (USGS PP 1395, 1987, public domain,
  * pp. 107-109), identical to EPSG Guidance Note 7-2; transverse
  * Mercator per Karney's Krüger-series formulation (arXiv:1002.1417,
  * public formulas), the same series [[Wkb.lonLatToUtm]] uses.
  *
  * Scale posture: all forwards/inverses are per-row closed-form math —
  * map-side only, codegen-adjacent scalar work, no state, no shuffle; at
  * 100 TB reprojection is scan → transform → write.
  */
object Crs {

  /** GRS80 inverse flattening (ETRS89 / RGF93 / NAD83 ellipsoid). */
  private val Grs80InvF = 298.257222101
  /** WGS84 inverse flattening (the polar-stereo EO grids are WGS84-native). */
  private val Wgs84InvF = 298.257223563
  /** Shared semi-major axis (WGS84 and GRS80 agree exactly). */
  private val SemiMajor = 6378137.0

  // ------------------------------------------------------------ LCC 2-SP
  /** Lambert conformal conic, two standard parallels, on ellipsoid
    * (a, 1/invF). All angles in degrees at the API boundary. The derived
    * constants (n, a·F, ρ0, e) are exposed for oracle replay — the a11s
    * dotChain pattern.
    */
  final class Lcc2Sp(
      val srid: Int,
      a: Double, invF: Double,
      val phi1Deg: Double, val phi2Deg: Double,
      val phi0Deg: Double, val lon0Deg: Double,
      val falseE: Double, val falseN: Double) {

    private val f = 1.0 / invF
    /** First eccentricity. */
    val e: Double = math.sqrt(2.0 * f - f * f)

    private def rad(d: Double): Double = d * math.Pi / 180.0
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e * e * s * s)
    }
    // t(φ) = tan(π/4 − φ/2) / ((1 − e sinφ)/(1 + e sinφ))^(e/2), with the
    // pow written as exp/ln so the oracle's replay (baseline SQL math
    // functions only) is the literal same chain
    private def tOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4.0 - phi / 2.0) *
        math.exp(-(e / 2.0) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }

    /** Cone constant n = ln(m1/m2) / ln(t1/t2). */
    val n: Double = {
      val (m1, m2) = (mOf(rad(phi1Deg)), mOf(rad(phi2Deg)))
      val (t1, t2) = (tOf(rad(phi1Deg)), tOf(rad(phi2Deg)))
      (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    }
    /** a·F = a·m1/(n·t1^n): the radius scale every ρ carries. */
    val aF: Double = {
      val m1 = mOf(rad(phi1Deg))
      val t1 = tOf(rad(phi1Deg))
      SemiMajorCheck(a) * m1 / (n * math.exp(n * math.log(t1)))
    }
    /** ρ0 = a·F·t(φ0)^n — the northing origin offset. */
    val rho0: Double = aF * math.exp(n * math.log(tOf(rad(phi0Deg))))

    /** lon/lat degrees → (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val t = tOf(rad(latDeg))
      val rho = aF * math.exp(n * math.log(t))
      val th = n * rad(lonDeg - lon0Deg)
      (falseE + rho * math.sin(th), falseN + rho0 - rho * math.cos(th))
    }

    /** Fixed iteration count for the inverse conformal→geodetic latitude:
      * the recurrence contracts by ~e²/2 ≈ 0.0033 per round, so 8 rounds
      * land ~1e-20 relative — a pure function of the inputs, replayable
      * (the Vincenty [[Wkb.geodConstants]] discipline).
      */
    val InvIters = 8

    /** (easting, northing) meters → lon/lat degrees. */
    def inverse(east: Double, north: Double): (Double, Double) = {
      val x = east - falseE
      val y = rho0 - (north - falseN)
      val sgn = if (n >= 0) 1.0 else -1.0
      val rho = sgn * math.sqrt(x * x + y * y)
      val tp = math.exp(math.log(rho / aF) / n)
      val th = math.atan2(sgn * x, sgn * y)
      var phi = math.Pi / 2.0 - 2.0 * math.atan(tp)
      var i = 0
      while (i < InvIters) {
        val s = math.sin(phi)
        phi = math.Pi / 2.0 - 2.0 * math.atan(
          tp * math.exp((e / 2.0) * math.log((1.0 - e * s) / (1.0 + e * s))))
        i += 1
      }
      ((th / n) * 180.0 / math.Pi + lon0Deg, phi * 180.0 / math.Pi)
    }

    /** Oracle-replay constants: (e, n, a·F, ρ0, lon0°, FE, FN). */
    def replayConstants: (Double, Double, Double, Double, Double, Double, Double) =
      (e, n, aF, rho0, lon0Deg, falseE, falseN)
  }

  /** All registry ellipsoids share the WGS84/GRS80 semi-major axis; a
    * mismatching `a` would mean a registry entry this module's replay
    * constants were never derived for.
    */
  private def SemiMajorCheck(a: Double): Double = {
    require(a == SemiMajor, s"CRS registry: unsupported semi-major axis $a")
    a
  }

  // ----------------------------------------------- TM beyond WGS84 UTM
  /** Krüger-series transverse Mercator on an arbitrary (shared-a)
    * ellipsoid with arbitrary central meridian / false easting+northing —
    * the generalization of [[Wkb.lonLatToUtm]]'s WGS84-only constants.
    * Series identical to Karney's n⁴ truncation (error ~a·n⁵ ≈ 8e-8 m).
    */
  final class TmSeries(
      val srid: Int,
      a: Double, invF: Double, val k0: Double,
      val lon0Deg: Double, val falseE: Double, val falseN: Double) {

    private val f = 1.0 / invF
    private val n = f / (2.0 - f)
    private val n2 = n * n; private val n3 = n2 * n; private val n4 = n2 * n2
    val bigA: Double = SemiMajorCheck(a) / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0)
    val k0A: Double = k0 * bigA
    /** 2√n/(1+n). */
    val e2p: Double = 2.0 * math.sqrt(n) / (1.0 + n)
    val al: Seq[Double] = Seq(
      n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0,
      13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0,
      61.0 * n3 / 240.0 - 103.0 * n4 / 140.0,
      49561.0 * n4 / 161280.0)
    private val be = Seq(
      n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0,
      n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0,
      17.0 * n3 / 480.0 - 37.0 * n4 / 840.0,
      4397.0 * n4 / 161280.0)
    private val de = Seq(
      2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3 + 116.0 * n4 / 45.0,
      7.0 * n2 / 3.0 - 8.0 * n3 / 5.0 - 227.0 * n4 / 45.0,
      56.0 * n3 / 15.0 - 136.0 * n4 / 35.0,
      4279.0 * n4 / 630.0)

    private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
    private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1.0))

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * math.Pi / 180.0
      val lam = (lonDeg - lon0Deg) * math.Pi / 180.0
      val sphi = math.sin(phi)
      val t = math.sinh(atanh(sphi) - e2p * atanh(e2p * sphi))
      val cl = math.cos(lam)
      val xip = math.atan2(t, cl)
      val etap = asinh(math.sin(lam) / math.sqrt(t * t + cl * cl))
      var xi = xip; var eta = etap
      var j = 0
      while (j < 4) {
        val k = 2.0 * (j + 1)
        xi += al(j) * math.sin(k * xip) * math.cosh(k * etap)
        eta += al(j) * math.cos(k * xip) * math.sinh(k * etap)
        j += 1
      }
      (falseE + k0A * eta, falseN + k0A * xi)
    }

    def inverse(east: Double, north: Double): (Double, Double) = {
      val xi = (north - falseN) / k0A
      val eta = (east - falseE) / k0A
      var xip = xi; var etap = eta
      var j = 0
      while (j < 4) {
        val k = 2.0 * (j + 1)
        xip -= be(j) * math.sin(k * xi) * math.cosh(k * eta)
        etap -= be(j) * math.cos(k * xi) * math.sinh(k * eta)
        j += 1
      }
      val chi = math.atan2(math.sin(xip),
        math.sqrt(math.sinh(etap) * math.sinh(etap) + math.cos(xip) * math.cos(xip)))
      var phi = chi
      var m = 0
      while (m < 4) {
        phi += de(m) * math.sin(2.0 * (m + 1) * chi)
        m += 1
      }
      val lam = math.atan2(math.sinh(etap), math.cos(xip))
      (lam * 180.0 / math.Pi + lon0Deg, phi * 180.0 / math.Pi)
    }
  }

  // ------------------------------------------------- polar stereographic
  /** Polar stereographic variant B (EPSG method 9829; Snyder PP 1395
    * pp. 160-162): the Earth-observation workhorse for sea-ice and
    * polar-cap products (NSIDC north grid, Antarctic grid). Aspect is
    * chosen by the sign of the standard parallel `phiTsDeg`; both aspects
    * share one chain by reflecting latitude through the equator (t is
    * evaluated at |aspect|-north latitude; only the northing's cos sign
    * differs — Snyder's south-aspect equations fold to exactly this).
    * The pow is written exp/ln like [[Lcc2Sp.tOf]] so the oracle replays
    * the literal chain with baseline SQL math only.
    */
  final class PolarStereo(
      val srid: Int,
      a: Double, invF: Double,
      val phiTsDeg: Double, val lon0Deg: Double,
      val falseE: Double, val falseN: Double) {

    private val f = 1.0 / invF
    /** First eccentricity. */
    val e: Double = math.sqrt(2.0 * f - f * f)
    /** South aspect ⇔ the standard parallel is below the equator. */
    val south: Boolean = phiTsDeg < 0.0

    private def rad(d: Double): Double = d * math.Pi / 180.0
    private def tOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4.0 - phi / 2.0) *
        math.exp(-(e / 2.0) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e * e * s * s)
    }

    /** ρ scale: a·m(φts)/t(|φts|) — every ρ is this times t(|φ|). */
    val rhoScale: Double = {
      val phiN = math.abs(phiTsDeg)
      SemiMajorCheck(a) * mOf(rad(phiN)) / tOf(rad(phiN))
    }

    /** lon/lat degrees → (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val latN = if (south) -latDeg else latDeg
      val lonR = if (south) -(lonDeg - lon0Deg) else (lonDeg - lon0Deg)
      val rho = rhoScale * tOf(rad(latN))
      val th = rad(lonR)
      val x = rho * math.sin(th)
      val y = -rho * math.cos(th)
      if (south) (falseE - x, falseN - y) else (falseE + x, falseN + y)
    }

    /** Fixed iterations for the conformal-latitude inverse (the
      * [[Lcc2Sp.InvIters]] contraction argument: ~e²/2 per round).
      */
    val InvIters = 8

    /** (easting, northing) meters → lon/lat degrees. */
    def inverse(east: Double, north: Double): (Double, Double) = {
      val x0 = east - falseE
      val y0 = north - falseN
      val (x, y) = if (south) (-x0, -y0) else (x0, y0)
      val rho = math.sqrt(x * x + y * y)
      val tp = rho / rhoScale
      var phi = math.Pi / 2.0 - 2.0 * math.atan(tp)
      var i = 0
      while (i < InvIters) {
        val s = math.sin(phi)
        phi = math.Pi / 2.0 - 2.0 * math.atan(
          tp * math.exp((e / 2.0) * math.log((1.0 - e * s) / (1.0 + e * s))))
        i += 1
      }
      val lonR = if (rho == 0.0) 0.0 else math.atan2(x, -y)
      val latDeg = (if (south) -phi else phi) * 180.0 / math.Pi
      val lonRaw = (if (south) -lonR else lonR) * 180.0 / math.Pi + lon0Deg
      // atan2 folds the azimuth into (−π, π] around the central meridian;
      // normalize back into the canonical (−180, 180] so any world-range
      // input longitude roundtrips (off-center grids like 3413's −45°
      // otherwise return lon±360 for the far hemisphere)
      val lonDeg =
        if (lonRaw > 180.0) lonRaw - 360.0
        else if (lonRaw <= -180.0) lonRaw + 360.0
        else lonRaw
      (lonDeg, latDeg)
    }

    /** Oracle-replay constants: (e, ρ-scale, lon0°, FE, FN, south). */
    def replayConstants: (Double, Double, Double, Double, Double, Boolean) =
      (e, rhoScale, lon0Deg, falseE, falseN, south)
  }

  // --------------------------------------------- Albers equal-area conic
  /** Albers equal-area conic, two standard parallels, on ellipsoid —
    * the equal-area sibling of [[Lcc2Sp]] (same cone machinery, but the
    * radius chain runs through the authalic q(φ) instead of the
    * conformal t(φ)). Snyder PP 1395 pp. 101-102 / EPSG method 9822;
    * this is the projection every CONUS-wide US federal raster/vector
    * product ships in (EPSG:5070). All angles in degrees at the API
    * boundary; derived constants (e, n, C, ρ0) exposed for oracle
    * replay — the a11s/a11aj dotChain pattern, with the one pow (√)
    * written as sqrt so the oracle needs baseline SQL math only.
    */
  final class AlbersEqArea(
      val srid: Int,
      a: Double, invF: Double,
      val phi1Deg: Double, val phi2Deg: Double,
      val phi0Deg: Double, val lon0Deg: Double,
      val falseE: Double, val falseN: Double) {

    private val f = 1.0 / invF
    /** First eccentricity. */
    val e: Double = math.sqrt(2.0 * f - f * f)
    private val e2 = e * e
    /** Semi-major (checked against the shared registry axis). */
    val aAxis: Double = SemiMajorCheck(a)

    private def rad(d: Double): Double = d * math.Pi / 180.0
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e2 * s * s)
    }
    // authalic q(φ) = (1−e²)[ sinφ/(1−e²sin²φ) − (1/2e)·ln((1−e sinφ)/(1+e sinφ)) ]
    private def qOf(phi: Double): Double = {
      val s = math.sin(phi)
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }

    /** Cone constant n = (m1² − m2²)/(q2 − q1). */
    val n: Double = {
      val (m1, m2) = (mOf(rad(phi1Deg)), mOf(rad(phi2Deg)))
      (m1 * m1 - m2 * m2) / (qOf(rad(phi2Deg)) - qOf(rad(phi1Deg)))
    }
    /** C = m1² + n·q1. */
    val bigC: Double = {
      val m1 = mOf(rad(phi1Deg))
      m1 * m1 + n * qOf(rad(phi1Deg))
    }
    /** ρ0 = a·√(C − n·q0)/n — the northing origin offset. */
    val rho0: Double = aAxis * math.sqrt(bigC - n * qOf(rad(phi0Deg))) / n

    /** lon/lat degrees → (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val rho = aAxis * math.sqrt(bigC - n * qOf(rad(latDeg))) / n
      val th = n * rad(lonDeg - lon0Deg)
      (falseE + rho * math.sin(th), falseN + rho0 - rho * math.cos(th))
    }

    /** Fixed iteration count for the authalic→geodetic latitude inverse
      * (Snyder 3-16): the Newton step contracts by ~e² per round on the
      * registry's ellipsoids, so 8 rounds land far below 1e-15 rad — a
      * pure function of the inputs, replayable (the [[Lcc2Sp.InvIters]]
      * discipline).
      */
    val InvIters = 8

    /** (easting, northing) meters → lon/lat degrees. */
    def inverse(east: Double, north: Double): (Double, Double) = {
      val x = east - falseE
      val y = rho0 - (north - falseN)
      val sgn = if (n >= 0) 1.0 else -1.0
      val rho = sgn * math.sqrt(x * x + y * y)
      val th = math.atan2(sgn * x, sgn * y)
      val q = (bigC - (rho * n / aAxis) * (rho * n / aAxis)) / n
      var phi = math.asin(q / 2.0)
      var i = 0
      while (i < InvIters) {
        val s = math.sin(phi)
        val d = 1.0 - e2 * s * s
        phi += (d * d / (2.0 * math.cos(phi))) *
          (q / (1.0 - e2) - s / d +
            (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
        i += 1
      }
      ((th / n) * 180.0 / math.Pi + lon0Deg, phi * 180.0 / math.Pi)
    }

    /** Oracle-replay constants: (e, n, C, a, ρ0, lon0°, FE, FN). */
    def replayConstants: (Double, Double, Double, Double, Double, Double, Double, Double) =
      (e, n, bigC, aAxis, rho0, lon0Deg, falseE, falseN)
  }

  // ------------------------------------- Lambert azimuthal equal-area
  /** Lambert azimuthal equal-area, oblique aspect, on ellipsoid (Snyder
    * PP 1395 pp. 187-190 / EPSG method 9820) — the projection of the
    * European statistical grid (EPSG:3035, the INSPIRE/EEA standard):
    * equal-area like [[AlbersEqArea]] (same authalic q machinery) but
    * azimuthal, so one center instead of two standard parallels. Derived
    * constants (e, qp, β0 sines, Rq, D) exposed for oracle replay; the
    * forward chain is asin/sqrt/sin/cos only — baseline SQL math.
    */
  final class Laea(
      val srid: Int,
      a: Double, invF: Double,
      val phi0Deg: Double, val lon0Deg: Double,
      val falseE: Double, val falseN: Double) {

    private val f = 1.0 / invF
    /** First eccentricity. */
    val e: Double = math.sqrt(2.0 * f - f * f)
    private val e2 = e * e
    val aAxis: Double = SemiMajorCheck(a)

    private def rad(d: Double): Double = d * math.Pi / 180.0
    private def qOf(phi: Double): Double = {
      val s = math.sin(phi)
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }

    /** q at the pole. */
    val qp: Double = qOf(math.Pi / 2.0)
    /** Authalic sphere radius Rq = a·√(qp/2). */
    val rq: Double = aAxis * math.sqrt(qp / 2.0)
    private val beta0 = math.asin(qOf(rad(phi0Deg)) / qp)
    val sinB0: Double = math.sin(beta0)
    val cosB0: Double = math.cos(beta0)
    /** D = a·m0/(Rq·cosβ0) — the aspect-ratio correction. */
    val dD: Double = {
      val s0 = math.sin(rad(phi0Deg))
      val m0 = math.cos(rad(phi0Deg)) / math.sqrt(1.0 - e2 * s0 * s0)
      aAxis * m0 / (rq * cosB0)
    }

    /** lon/lat degrees → (easting, northing) meters. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val lam = rad(lonDeg - lon0Deg)
      val beta = math.asin(qOf(rad(latDeg)) / qp)
      val sb = math.sin(beta); val cb = math.cos(beta)
      val cl = math.cos(lam); val sl = math.sin(lam)
      val bBig = rq * math.sqrt(2.0 / (1.0 + sinB0 * sb + cosB0 * (cb * cl)))
      (falseE + bBig * dD * (cb * sl),
        falseN + bBig / dD * (cosB0 * sb - sinB0 * (cb * cl)))
    }

    /** Fixed iterations for the authalic→geodetic inverse (the
      * [[AlbersEqArea.InvIters]] Newton contraction argument).
      */
    val InvIters = 8

    /** (easting, northing) meters → lon/lat degrees. */
    def inverse(east: Double, north: Double): (Double, Double) = {
      val x = east - falseE
      val y = north - falseN
      val rho = math.sqrt((x / dD) * (x / dD) + (dD * y) * (dD * y))
      if (rho == 0.0) return (lon0Deg, phi0Deg)
      val ce = 2.0 * math.asin(rho / (2.0 * rq))
      val q = qp * (math.cos(ce) * sinB0 + dD * y * math.sin(ce) * cosB0 / rho)
      val lam = math.atan2(x * math.sin(ce),
        dD * rho * cosB0 * math.cos(ce) - dD * dD * y * sinB0 * math.sin(ce))
      var phi = math.asin(q / 2.0)
      var i = 0
      while (i < InvIters) {
        val s = math.sin(phi)
        val d = 1.0 - e2 * s * s
        phi += (d * d / (2.0 * math.cos(phi))) *
          (q / (1.0 - e2) - s / d +
            (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
        i += 1
      }
      (lon0Deg + lam * 180.0 / math.Pi, phi * 180.0 / math.Pi)
    }

    /** Oracle-replay constants: (e, qp, Rq, sinβ0, cosβ0, D, lon0°, FE, FN). */
    def replayConstants: (Double, Double, Double, Double, Double, Double, Double, Double, Double) =
      (e, qp, rq, sinB0, cosB0, dD, lon0Deg, falseE, falseN)
  }

  // ------------------------------------------------- spherical sinusoidal
  /** Spherical sinusoidal (Snyder PP 1395 p. 247) — the equal-area grid
    * MODIS-style EO tile products live on. Pure closed-form arithmetic
    * (one cos each way), exactly invertible away from the poles: x =
    * R·(λ−λ0)·cosφ, y = R·φ. No iteration, no series — the cheapest
    * projection in the registry and the one whose oracle replay is
    * bit-trivial.
    */
  final class Sinusoidal(val srid: Int, val radius: Double, val lon0Deg: Double) {
    private val D2R = math.Pi / 180.0
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      (radius * ((lonDeg - lon0Deg) * D2R) * math.cos(phi), radius * phi)
    }
    def inverse(east: Double, north: Double): (Double, Double) = {
      val phi = north / radius
      (east / (radius * math.cos(phi)) / D2R + lon0Deg, phi / D2R)
    }
  }

  // --------------------------------------------------------- the registry
  /** EPSG:2154 — RGF93 / Lambert-93, the French national grid. */
  val Lambert93: Lcc2Sp =
    new Lcc2Sp(2154, SemiMajor, Grs80InvF, 49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0)
  /** EPSG:3978 — NAD83 / Canada Atlas Lambert. */
  val CanadaLcc: Lcc2Sp =
    new Lcc2Sp(3978, SemiMajor, Grs80InvF, 49.0, 77.0, 49.0, -95.0, 0.0, 0.0)
  /** EPSG:3034 — ETRS89-extended / LCC Europe. */
  val EuropeLcc: Lcc2Sp =
    new Lcc2Sp(3034, SemiMajor, Grs80InvF, 35.0, 65.0, 52.0, 10.0, 4000000.0, 2800000.0)

  val lcc: Map[Int, Lcc2Sp] =
    Seq(Lambert93, CanadaLcc, EuropeLcc).map(p => p.srid -> p).toMap

  /** EPSG:25828-25838 — ETRS89 / UTM zones 28N-38N on GRS80 (the ellipsoid
    * honored exactly; only the cm-level ETRS89↔WGS84 shift is identity) —
    * plus the two national TM workhorses that are NOT UTM-parameterized:
    * EPSG:3067 (ETRS89 / TM35FIN, the all-Finland single zone) and
    * EPSG:2180 (ETRS89 / Poland CS92: k0 0.9993, FN −5300000).
    */
  val tm: Map[Int, TmSeries] =
    ((28 to 38).map { z =>
      (25800 + z) -> new TmSeries(25800 + z, SemiMajor, Grs80InvF, 0.9996,
        z * 6.0 - 183.0, 500000.0, 0.0)
    } ++ Seq(
      3067 -> new TmSeries(3067, SemiMajor, Grs80InvF, 0.9996, 27.0, 500000.0, 0.0),
      2180 -> new TmSeries(2180, SemiMajor, Grs80InvF, 0.9993, 19.0, 500000.0, -5300000.0)
    )).toMap

  /** EPSG:3413 — WGS84 / NSIDC Sea Ice Polar Stereographic North
    * (lat_ts 70°N, lon0 −45°); EPSG:3031 — WGS84 / Antarctic Polar
    * Stereographic (lat_ts 71°S, lon0 0°). The two canonical EO polar
    * grids.
    */
  val NsidcNorth: PolarStereo =
    new PolarStereo(3413, SemiMajor, Wgs84InvF, 70.0, -45.0, 0.0, 0.0)
  val Antarctic: PolarStereo =
    new PolarStereo(3031, SemiMajor, Wgs84InvF, -71.0, 0.0, 0.0, 0.0)
  val stereo: Map[Int, PolarStereo] =
    Seq(NsidcNorth, Antarctic).map(p => p.srid -> p).toMap

  /** EPSG:5070 — NAD83 / Conus Albers (φ1 29.5°, φ2 45.5°, φ0 23°,
    * λ0 −96°, FE/FN 0): the standard-parallel pair every CONUS-wide US
    * federal product (NLCD, LANDFIRE, …) ships in. Same GRS80/NAD83
    * zero-shift stance as [[CanadaLcc]].
    */
  val ConusAlbers: AlbersEqArea =
    new AlbersEqArea(5070, SemiMajor, Grs80InvF, 29.5, 45.5, 23.0, -96.0, 0.0, 0.0)
  val albers: Map[Int, AlbersEqArea] =
    Seq(ConusAlbers).map(p => p.srid -> p).toMap

  /** EPSG:3035 — ETRS89-extended / LAEA Europe (φ0 52°, λ0 10°,
    * FE 4321000, FN 3210000): the INSPIRE/EEA statistical-grid CRS.
    */
  val EuropeLaea: Laea =
    new Laea(3035, SemiMajor, Grs80InvF, 52.0, 10.0, 4321000.0, 3210000.0)
  val laea: Map[Int, Laea] =
    Seq(EuropeLaea).map(p => p.srid -> p).toMap

  /** ESRI:53008 — Sphere Sinusoidal (authalic R 6371000 m, lon0 0°), the
    * published spherical-sinusoidal grid code (the MODIS land grid is the
    * same projection on R 6371007.181 m — swap the radius to match a
    * specific product).
    */
  val SphereSinusoidal: Sinusoidal = new Sinusoidal(53008, 6371000.0, 0.0)
  val sinusoidal: Map[Int, Sinusoidal] =
    Seq(SphereSinusoidal).map(p => p.srid -> p).toMap

  // ------------------------------------- arbitrary-parameter registration
  /** SRIDs in the shipped registry — custom registration may not shadow
    * them (a silently-redefined national grid is the worst failure mode
    * a CRS registry can have).
    */
  def builtinSrids: Set[Int] =
    lcc.keySet ++ tm.keySet ++ stereo.keySet ++ albers.keySet ++
      laea.keySet ++ sinusoidal.keySet

  private type Proj = (Double, Double) => (Double, Double)
  private val custom =
    new java.util.concurrent.ConcurrentHashMap[Int, (Proj, Proj)]()

  private def register(srid: Int, fwd: Proj, inv: Proj): Unit = {
    require(!builtinSrids.contains(srid),
      s"CRS registry: EPSG:$srid is a shipped code — custom registration may not shadow it")
    val prev = custom.putIfAbsent(srid, (fwd, inv))
    require(prev == null,
      s"CRS registry: EPSG:$srid already custom-registered — unregister first " +
        "(two silently-different definitions of one code is the bug this guard exists for)")
  }

  /** Register an arbitrary-parameter transverse Mercator grid (any k0 /
    * central meridian / false origin on the shared-a GRS80 or WGS84
    * ellipsoid) under a custom SRID — the "my national grid isn't in the
    * shipped list" escape hatch, same exact-replay machinery as the
    * shipped codes. Returns the projection so callers can read its
    * derived constants for oracle replay.
    *
    * JVM-LOCAL by design (all register* variants): the registry is a
    * static map, so on a multi-executor cluster the registration must
    * run in every executor JVM — package it in a static initializer of
    * the job jar (the standard pattern for JVM-static registries; a
    * broadcast would make the reproject expression's behavior depend on
    * which broadcast it captured). In local mode — every test and bench
    * here — driver and executors share one JVM.
    */
  def registerTm(srid: Int, k0: Double, lon0Deg: Double,
      falseE: Double, falseN: Double, invF: Double = Grs80InvF): TmSeries = {
    val p = new TmSeries(srid, SemiMajor, invF, k0, lon0Deg, falseE, falseN)
    register(srid, p.forward _, p.inverse _)
    p
  }

  /** Register an arbitrary-parameter Lambert conformal conic 2-SP grid. */
  def registerLcc(srid: Int, phi1Deg: Double, phi2Deg: Double,
      phi0Deg: Double, lon0Deg: Double, falseE: Double, falseN: Double,
      invF: Double = Grs80InvF): Lcc2Sp = {
    val p = new Lcc2Sp(srid, SemiMajor, invF, phi1Deg, phi2Deg, phi0Deg,
      lon0Deg, falseE, falseN)
    register(srid, p.forward _, p.inverse _)
    p
  }

  /** Remove a custom registration (no-op if absent; shipped codes are
    * untouchable by construction).
    */
  def unregister(srid: Int): Unit = custom.remove(srid)

  /** Registry lookup: lon/lat↔grid function pair for `srid`, if registered
    * (shipped codes first, then custom registrations).
    */
  def forwardOf(srid: Int): Option[(Double, Double) => (Double, Double)] =
    lcc.get(srid).map(p => p.forward _)
      .orElse(tm.get(srid).map(p => p.forward _))
      .orElse(stereo.get(srid).map(p => p.forward _))
      .orElse(albers.get(srid).map(p => p.forward _))
      .orElse(laea.get(srid).map(p => p.forward _))
      .orElse(sinusoidal.get(srid).map(p => p.forward _))
      .orElse(Option(custom.get(srid)).map(_._1))
  def inverseOf(srid: Int): Option[(Double, Double) => (Double, Double)] =
    lcc.get(srid).map(p => p.inverse _)
      .orElse(tm.get(srid).map(p => p.inverse _))
      .orElse(stereo.get(srid).map(p => p.inverse _))
      .orElse(albers.get(srid).map(p => p.inverse _))
      .orElse(laea.get(srid).map(p => p.inverse _))
      .orElse(sinusoidal.get(srid).map(p => p.inverse _))
      .orElse(Option(custom.get(srid)).map(_._2))
}
