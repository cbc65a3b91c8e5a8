package graft.core

/** Map projections for WMS bbox construction (SURVEY §2.1 S6), from public
  * formulas only (EPSG Guidance Note 7-2 methods, Snyder "Map Projections:
  * A Working Manual", Karney 2011 "Transverse Mercator with an accuracy of
  * a few nanometers").
  *
  * The reference reprojects tile bounds to ANY WMS CRS through pyproj
  * (`/root/reference/label_maker_dask/utils.py:81-84`,
  * `transform_bounds(..., densify_pts=21)`). This engine mirrors that
  * contract with a parameterized EPSG -> (kernel, ellipsoid, datum) table
  * [[Proj.crs]] over six projection kernels:
  *
  *  - geographic passthrough (EPSG:4326)
  *  - spherical web mercator (EPSG:3857/900913)
  *  - ellipsoidal Mercator (EPSG:3395) — Snyder eq. 7-7
  *  - transverse Mercator, Krüger series 4th order in the third flattening
  *    n (Karney 2011 §3; sub-mm over a UTM zone) — UTM 326xx/327xx,
  *    ETRS89 UTM 258xx, NAD27 UTM 267xx (Clarke 1866 + CONUS
  *    geocentric translation), WGS72 UTM 322xx/323xx (WGS72 ellipsoid +
  *    the EPSG:1237 position-vector micro-shift), British National Grid
  *    27700 (Airy 1830 + 7-parameter Helmert datum shift)
  *  - Lambert Conformal Conic 2SP (EPSG method 9802) — 2154/3347/3034
  *  - Albers Equal-Area (EPSG method 9822) — 5070
  *  - Polar Stereographic variant B (EPSG method 9829, Snyder eq.
  *    21-33/34) — NSIDC Sea Ice grids 3413/3976, Antarctic 3031, Arctic
  *    3995
  *
  * Every kernel has an exact inverse ([[Proj.inverse]]); round-trip
  * forward∘inverse ≡ id to <1e-9 degrees is property-tested in ProjSpec.
  * Datum shifts use the position-vector 7-parameter Helmert (EPSG method
  * 9606) through ECEF, with the reverse direction inverted exactly (3x3
  * solve, not parameter negation) so round-trips stay at machine
  * precision. Unknown codes still throw in the WMS reader (hard error,
  * reference parity). */
object Proj {

  // ---------------------------------------------------------------- ellipsoids

  /** Reference ellipsoid with derived constants, including the Krüger
    * alpha/beta series coefficients (Karney 2011 eq. 12/25, 4th order in
    * the third flattening). */
  final case class Ellipsoid(a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val e2: Double = f * (2 - f)
    val e: Double = math.sqrt(e2)
    val n3: Double = f / (2 - f) // third flattening
    /** rectifying radius A (Karney eq. 14) */
    val ka: Double = a / (1 + n3) * (1 + n3 * n3 / 4 + math.pow(n3, 4) / 64)
    /** forward series (Karney eq. 12) */
    val alpha: Array[Double] = Array(
      n3 / 2 - 2.0 / 3 * n3 * n3 + 5.0 / 16 * math.pow(n3, 3) + 41.0 / 180 * math.pow(n3, 4),
      13.0 / 48 * n3 * n3 - 3.0 / 5 * math.pow(n3, 3) + 557.0 / 1440 * math.pow(n3, 4),
      61.0 / 240 * math.pow(n3, 3) - 103.0 / 140 * math.pow(n3, 4),
      49561.0 / 161280 * math.pow(n3, 4))
    /** inverse series (Karney eq. 25) */
    val beta: Array[Double] = Array(
      n3 / 2 - 2.0 / 3 * n3 * n3 + 37.0 / 96 * math.pow(n3, 3) - 1.0 / 360 * math.pow(n3, 4),
      1.0 / 48 * n3 * n3 + 1.0 / 15 * math.pow(n3, 3) - 437.0 / 1440 * math.pow(n3, 4),
      17.0 / 480 * math.pow(n3, 3) - 37.0 / 840 * math.pow(n3, 4),
      4397.0 / 161280 * math.pow(n3, 4))
  }

  val WGS84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val GRS80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646)
  /** Everest 1830 (1967 definition), EPSG ellipsoid 7016 — Borneo RSO. */
  val Everest1967: Ellipsoid = Ellipsoid(6377298.556, 300.8017)
  /** Bessel 1841, EPSG ellipsoid 7004 — the Swiss grids. */
  val Bessel1841: Ellipsoid = Ellipsoid(6377397.155, 299.1528128)
  /** Krassowsky 1940, EPSG ellipsoid 7024 — the Pulkovo 1942 grids. */
  val Krassowsky1940: Ellipsoid = Ellipsoid(6378245.0, 298.3)
  /** Clarke 1866, EPSG ellipsoid 7008 — the NAD27 grids. */
  val Clarke1866: Ellipsoid = Ellipsoid(6378206.4, 294.9786982)
  /** WGS 72, EPSG ellipsoid 7043 — the Transit-era WGS72 UTM grids. */
  val Wgs72Ell: Ellipsoid = Ellipsoid(6378135.0, 298.26)

  // ------------------------------------------------------------- datum shifts

  /** Position-vector 7-parameter Helmert transformation (EPSG method
    * 9606): WGS84 geodetic -> target-datum geodetic via ECEF. Rotations in
    * arc-seconds, scale in ppm, translations in metres. The reverse
    * direction inverts the affine exactly (solve, not negated params) so
    * forward∘inverse is machine-precision. */
  final case class Helmert(tx: Double, ty: Double, tz: Double,
      rxSec: Double, rySec: Double, rzSec: Double, ppm: Double) {
    private val s = 1.0 + ppm * 1e-6
    private val rx = math.toRadians(rxSec / 3600)
    private val ry = math.toRadians(rySec / 3600)
    private val rz = math.toRadians(rzSec / 3600)
    // M = (1+s)(I + R), position-vector small-angle rotation
    private val m = Array(
      Array(s, -s * rz, s * ry),
      Array(s * rz, s, -s * rx),
      Array(-s * ry, s * rx, s))
    private val mInv = invert3(m)

    def apply(x: Double, y: Double, z: Double): (Double, Double, Double) =
      (tx + m(0)(0) * x + m(0)(1) * y + m(0)(2) * z,
        ty + m(1)(0) * x + m(1)(1) * y + m(1)(2) * z,
        tz + m(2)(0) * x + m(2)(1) * y + m(2)(2) * z)

    def unapply3(x: Double, y: Double, z: Double): (Double, Double, Double) = {
      val (dx, dy, dz) = (x - tx, y - ty, z - tz)
      (mInv(0)(0) * dx + mInv(0)(1) * dy + mInv(0)(2) * dz,
        mInv(1)(0) * dx + mInv(1)(1) * dy + mInv(1)(2) * dz,
        mInv(2)(0) * dx + mInv(2)(1) * dy + mInv(2)(2) * dz)
    }
  }

  private def invert3(m: Array[Array[Double]]): Array[Array[Double]] = {
    val det =
      m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
        m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
        m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    val inv = Array.ofDim[Double](3, 3)
    inv(0)(0) = (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) / det
    inv(0)(1) = (m(0)(2) * m(2)(1) - m(0)(1) * m(2)(2)) / det
    inv(0)(2) = (m(0)(1) * m(1)(2) - m(0)(2) * m(1)(1)) / det
    inv(1)(0) = (m(1)(2) * m(2)(0) - m(1)(0) * m(2)(2)) / det
    inv(1)(1) = (m(0)(0) * m(2)(2) - m(0)(2) * m(2)(0)) / det
    inv(1)(2) = (m(0)(2) * m(1)(0) - m(0)(0) * m(1)(2)) / det
    inv(2)(0) = (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0)) / det
    inv(2)(1) = (m(0)(1) * m(2)(0) - m(0)(0) * m(2)(1)) / det
    inv(2)(2) = (m(0)(0) * m(1)(1) - m(0)(1) * m(1)(0)) / det
    inv
  }

  /** WGS84 -> OSGB36 (reverse of EPSG transformation 1314, the published
    * OSGB36 -> WGS84 Helmert; ~5 m national accuracy, same as pyproj
    * without NTv2 grids). */
  private val Wgs84ToOsgb36 =
    Helmert(-446.448, 125.157, -542.060, -0.1502, -0.2470, -0.8421, 20.4894)

  /** WGS84 -> Timbalai 1948 (reverse of the published geocentric
    * translation Timbalai 1948 -> WGS84, tx/ty/tz = −679/669/−48 m; ~5 m
    * class, grids-free — the same fidelity contract as OSGB36 above). */
  private val Wgs84ToTimbalai1948 = Helmert(679.0, -669.0, 48.0, 0, 0, 0, 0)

  /** WGS84 -> CH1903+ (reverse of the published geocentric translation
    * CH1903+ -> WGS84, tx/ty/tz = 674.374/15.056/405.346 m — exact by
    * definition for CH1903+, which is anchored to ETRS89 through these
    * constants). */
  private val Wgs84ToCh1903Plus = Helmert(-674.374, -15.056, -405.346, 0, 0, 0, 0)

  /** WGS84 -> DHDN (sign-reversed EPSG transformation 1777, the published
    * DHDN -> WGS84 position-vector Helmert for Germany; naive negation of
    * a 7-param set is ~cm-class here, well inside 1777's own ~3 m
    * accuracy — the OSGB/Timbalai fidelity contract). */
  private val Wgs84ToDhdn =
    Helmert(-598.1, -73.7, -418.2, -0.202, -0.045, 2.455, -6.7)

  /** WGS84 -> S-JTSK (sign-reversed EPSG transformation 1623, the
    * published S-JTSK -> WGS84 position-vector Helmert for the Czech
    * Republic, ~1 m class; naive negation is cm-class inside that — the
    * OSGB/DHDN fidelity contract). */
  private val Wgs84ToSJtsk =
    Helmert(-570.8, -85.7, -462.8, -4.998, -1.587, -5.261, -3.56)

  /** WGS84 -> Pulkovo 1942 (reverse of EPSG transformation 1254, the
    * published Pulkovo 1942 -> WGS84 geocentric translation
    * tx/ty/tz = 28/−130/−95 m; ~10 m class, rotation-free — chosen over
    * the 7-parameter GOST sets because their rotation sign convention
    * can't be cross-checked offline, and a silent sign flip would cost
    * ~25 m; the translation-only form is convention-proof). */
  private val Wgs84ToPulkovo1942 = Helmert(-28.0, 130.0, 95.0, 0, 0, 0, 0)

  /** WGS84 -> NAD27 (reverse of EPSG transformation 1173, the published
    * CONUS NAD27 -> WGS84 geocentric translation tx/ty/tz = −8/160/176 m;
    * ~10 m class over the CONUS interior — the grids-free fidelity pyproj
    * also falls back to without NADCON files, and the same contract as
    * the OSGB36/Pulkovo entries above; the exact transform is the NADCON
    * grid, out of scope offline). */
  private val Wgs84ToNad27 = Helmert(8.0, -160.0, -176.0, 0, 0, 0, 0)

  /** WGS84 -> WGS72 (sign-reversed EPSG transformation 1237, the
    * published WGS72 -> WGS84 position-vector micro-shift
    * tz = +4.5 m, rz = +0.554", ds = +0.2263 ppm — the Doppler/Transit
    * era epoch correction, ~2-17 m over the globe; naive negation of a
    * shift this small is sub-mm-exact, the OSGB/DHDN fidelity
    * contract). */
  private val Wgs84ToWgs72 = Helmert(0, 0, -4.5, 0, 0, -0.554, -0.2263)

  /** geodetic (degrees, h=0) -> ECEF on `ell`. */
  private def toEcef(ell: Ellipsoid, lonDeg: Double, latDeg: Double): (Double, Double, Double) = {
    val phi = math.toRadians(latDeg)
    val lam = math.toRadians(lonDeg)
    val nu = ell.a / math.sqrt(1 - ell.e2 * math.sin(phi) * math.sin(phi))
    (nu * math.cos(phi) * math.cos(lam),
      nu * math.cos(phi) * math.sin(lam),
      nu * (1 - ell.e2) * math.sin(phi))
  }

  /** ECEF -> geodetic (degrees) on `ell`, fixed-point in latitude. */
  private def fromEcef(ell: Ellipsoid, x: Double, y: Double, z: Double): (Double, Double) = {
    val p = math.hypot(x, y)
    var phi = math.atan2(z, p * (1 - ell.e2))
    var i = 0
    while (i < 12) {
      val nu = ell.a / math.sqrt(1 - ell.e2 * math.sin(phi) * math.sin(phi))
      val next = math.atan2(z + ell.e2 * nu * math.sin(phi), p)
      if (math.abs(next - phi) < 1e-14) { phi = next; i = 12 } else { phi = next; i += 1 }
    }
    (math.toDegrees(math.atan2(y, x)), math.toDegrees(phi))
  }

  // ------------------------------------------------------- projection kernels

  /** Projection kernel parameters. Angles in degrees, offsets in metres. */
  sealed trait Kernel
  case object Geographic extends Kernel
  case object SphericalMercator extends Kernel
  /** ellipsoidal Mercator, natural origin at the equator (EPSG:3395) */
  case object Mercator extends Kernel
  /** transverse Mercator (Krüger); northing referenced to `lat0` */
  final case class Tmerc(lat0: Double, lon0: Double, k0: Double,
      fe: Double, fn: Double) extends Kernel
  final case class Lcc2sp(lat0: Double, lon0: Double, sp1: Double,
      sp2: Double, fe: Double, fn: Double) extends Kernel
  final case class AlbersK(lat0: Double, lon0: Double, sp1: Double,
      sp2: Double, fe: Double, fn: Double) extends Kernel
  /** polar stereographic variant B: `latTs` the latitude of true scale
    * (negative => south aspect) */
  final case class PolarStereo(latTs: Double, lon0: Double,
      fe: Double, fn: Double) extends Kernel
  /** Hotine oblique Mercator, EPSG method 9815 (variant B — false
    * easting/northing at the projection CENTRE): the Rectified Skew
    * Orthomorphic grids of Malaysia/Borneo. `azC` = azimuth of the
    * initial line at the centre, `gammaC` = rectified-to-skew grid
    * angle, both in degrees. */
  final case class Hotine(latC: Double, lonC: Double, azC: Double,
      gammaC: Double, k0: Double, fe: Double, fn: Double) extends Kernel
  /** Lambert Azimuthal Equal Area, oblique aspect (EPSG method 9820,
    * Snyder 1987 §24 ellipsoidal form): the ETRS89-LAEA Europe grid
    * (EPSG:3035) that INSPIRE WMS services publish. */
  final case class Laea(lat0: Double, lon0: Double, fe: Double,
      fn: Double) extends Kernel
  /** Krovak oblique conformal conic, NORTH-ORIENTATED axes (EPSG method
    * 1041 = method 9819's formulas with E = −westing, N = −southing):
    * the Czech/Slovak S-JTSK grid (EPSG:5514). `latC` latitude of
    * projection centre, `lonO` longitude of origin (east of Greenwich),
    * `azC` co-latitude of the cone axis αC, `latP` latitude of the
    * pseudo standard parallel, `kP` scale on it — all degrees. */
  final case class Krovak(latC: Double, lonO: Double, azC: Double,
      latP: Double, kP: Double, fe: Double, fn: Double) extends Kernel

  /** A CRS: kernel + ellipsoid + optional datum shift from WGS84. Forward
    * maps WGS84 (lon, lat) degrees to projected (x, y) metres. */
  final case class Crs(kernel: Kernel, ell: Ellipsoid,
      datum: Option[Helmert] = None) {

    // per-kernel constants cached once per Crs instance — the COG warp
    // path calls forward() per output pixel (65k/tile), and recomputing
    // the LCC/Albers log-pow constants or the Krüger xi(lat0) series
    // every call would dominate the loop
    private lazy val tmercXi0: Double = kernel match {
      case t: Tmerc if t.lat0 != 0 => xiAtMeridian(t.lat0)
      case _ => 0.0
    }
    private lazy val lccC: (Double, Double, Double) = kernel match {
      case l: Lcc2sp => lccConstsOf(l)
      case _ => (0.0, 0.0, 0.0)
    }
    private lazy val albersC: (Double, Double, Double) = kernel match {
      case a: AlbersK => albersConstsOf(a)
      case _ => (0.0, 0.0, 0.0)
    }
    private lazy val psC: (Double, Double) = kernel match {
      case p: PolarStereo =>
        val phiTs = math.toRadians(math.abs(p.latTs))
        (psT(phiTs), mFn(phiTs))
      case _ => (0.0, 0.0)
    }
    /** (B, A, H, gamma0, lam0, ucSigned) — EPSG GN 7-2 method 9815. */
    private lazy val homC: (Double, Double, Double, Double, Double, Double) =
      kernel match {
        case h: Hotine =>
          val phiC = math.toRadians(h.latC)
          val azR = math.toRadians(h.azC)
          val cosP = math.cos(phiC)
          val sinP = math.sin(phiC)
          val b = math.sqrt(1 + ell.e2 * cosP * cosP * cosP * cosP / (1 - ell.e2))
          val aBig = ell.a * b * h.k0 * math.sqrt(1 - ell.e2) /
            (1 - ell.e2 * sinP * sinP)
          val t0 = tFn(phiC)
          val dBig = math.max(1.0,
            b * math.sqrt(1 - ell.e2) / (cosP * math.sqrt(1 - ell.e2 * sinP * sinP)))
          val fBig = dBig + math.sqrt(dBig * dBig - 1) * math.signum(phiC)
          val hBig = fBig * math.pow(t0, b)
          val gBig = (fBig - 1 / fBig) / 2
          val gamma0 = math.asin(math.sin(azR) / dBig)
          val lam0 = math.toRadians(h.lonC) -
            math.asin(gBig * math.tan(gamma0)) / b
          // tolerance, not exact ==: near 90° cos(azR) ≈ 0 makes the
          // general atan2 branch ill-conditioned, so a programmatically
          // built azimuth infinitesimally off 90 must still take the
          // special-case formula (EPSG GN7-2 names the 90° case exactly)
          val uc =
            if (math.abs(h.azC - 90.0) < 1e-9)
              aBig * (math.toRadians(h.lonC) - lam0)
            else (aBig / b) * math.atan2(math.sqrt(dBig * dBig - 1),
              math.cos(azR)) * math.signum(phiC)
          (b, aBig, hBig, gamma0, lam0, uc)
        case _ => (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
      }
    /** (A, B, t0, n, r0) — EPSG GN 7-2 method 9819 (Krovak) constants,
      * validated against the Guidance Note's worked example. */
    private lazy val krovakC: (Double, Double, Double, Double, Double) =
      kernel match {
        case k: Krovak =>
          val phiC = math.toRadians(k.latC)
          val phiP = math.toRadians(k.latP)
          val sinC = math.sin(phiC)
          val cosC = math.cos(phiC)
          val aBig = ell.a * math.sqrt(1 - ell.e2) / (1 - ell.e2 * sinC * sinC)
          val bBig = math.sqrt(1 + ell.e2 * cosC * cosC * cosC * cosC / (1 - ell.e2))
          val gamma0 = math.asin(sinC / bBig)
          val t0 = math.tan(math.Pi / 4 + gamma0 / 2) *
            math.pow((1 + ell.e * sinC) / (1 - ell.e * sinC), ell.e * bBig / 2) /
            math.pow(math.tan(math.Pi / 4 + phiC / 2), bBig)
          (aBig, bBig, t0, math.sin(phiP), k.kP * aBig / math.tan(phiP))
        case _ => (0.0, 0.0, 0.0, 0.0, 0.0)
      }

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val (lo, la) = datum match {
        case None => (lon, lat)
        case Some(h) =>
          val (x, y, z) = toEcef(WGS84, lon, lat)
          val (x2, y2, z2) = h(x, y, z)
          fromEcef(ell, x2, y2, z2)
      }
      kernel match {
        case Geographic => (lo, la)
        case SphericalMercator =>
          (ell.a * math.toRadians(lo),
            ell.a * math.log(math.tan(math.Pi / 4 + math.toRadians(la) / 2)))
        case Mercator =>
          val phi = math.toRadians(la)
          val esin = ell.e * math.sin(phi)
          (ell.a * math.toRadians(lo),
            ell.a * math.log(math.tan(math.Pi / 4 + phi / 2) *
              math.pow((1 - esin) / (1 + esin), ell.e / 2)))
        case t: Tmerc => tmercFwd(t, lo, la)
        case l: Lcc2sp => lccFwd(l, lo, la)
        case al: AlbersK => albersFwd(al, lo, la)
        case p: PolarStereo => psFwd(p, lo, la)
        case h: Hotine => homFwd(h, lo, la)
        case l: Laea => laeaFwd(l, lo, la)
        case k: Krovak => krovakFwd(k, lo, la)
      }
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val (lo, la) = kernel match {
        case Geographic => (x, y)
        case SphericalMercator =>
          (math.toDegrees(x / ell.a),
            math.toDegrees(2 * math.atan(math.exp(y / ell.a)) - math.Pi / 2))
        case Mercator =>
          (math.toDegrees(x / ell.a),
            math.toDegrees(phiFromTs(ell, math.exp(-y / ell.a))))
        case t: Tmerc => tmercInv(t, x, y)
        case l: Lcc2sp => lccInv(l, x, y)
        case al: AlbersK => albersInv(al, x, y)
        case p: PolarStereo => psInv(p, x, y)
        case h: Hotine => homInv(h, x, y)
        case l: Laea => laeaInv(l, x, y)
        case k: Krovak => krovakInv(k, x, y)
      }
      datum match {
        case None => (lo, la)
        case Some(h) =>
          // abridged inverse (h=0 both sides) is ~mm off because the
          // forward drops the post-shift ellipsoidal height; refine with a
          // fixed point on the forward geodetic datum map so inverse is an
          // exact inverse of forward (round-trips < 1e-12 deg)
          def datumFwd(lon0: Double, lat0: Double): (Double, Double) = {
            val (x0, y0, z0) = toEcef(WGS84, lon0, lat0)
            val (x1, y1, z1) = h(x0, y0, z0)
            fromEcef(ell, x1, y1, z1)
          }
          val (ex, ey, ez) = toEcef(ell, lo, la)
          val (x2, y2, z2) = h.unapply3(ex, ey, ez)
          var (glo, gla) = fromEcef(WGS84, x2, y2, z2)
          var k = 0
          while (k < 3) {
            val (flo, fla) = datumFwd(glo, gla)
            glo += lo - flo
            gla += la - fla
            k += 1
          }
          (glo, gla)
      }
    }

    // ---- transverse Mercator (Karney 2011)

    /** rectifying "latitude" xi of the Krüger mapping at dlam=0 — i.e.
      * meridian distance / KA — used to reference northings to lat0. */
    private def xiAtMeridian(latDeg: Double): Double = {
      val sphi = math.sin(math.toRadians(latDeg))
      val c = 2 * math.sqrt(ell.n3) / (1 + ell.n3)
      val t = math.sinh(atanh(sphi) - c * atanh(c * sphi))
      val xip = math.atan(t)
      var xi = xip
      var j = 1
      while (j <= 4) { xi += ell.alpha(j - 1) * math.sin(2 * j * xip); j += 1 }
      xi
    }

    private def tmercFwd(p: Tmerc, lon: Double, lat: Double): (Double, Double) = {
      val phi = math.toRadians(lat)
      val dlam = math.toRadians(lon - p.lon0)
      val sphi = math.sin(phi)
      val c = 2 * math.sqrt(ell.n3) / (1 + ell.n3)
      val t = math.sinh(atanh(sphi) - c * atanh(c * sphi))
      val xip = math.atan2(t, math.cos(dlam))
      val etap = atanh(math.sin(dlam) / math.sqrt(1 + t * t))
      var xi = xip
      var eta = etap
      var j = 1
      while (j <= 4) {
        xi += ell.alpha(j - 1) * math.sin(2 * j * xip) * math.cosh(2 * j * etap)
        eta += ell.alpha(j - 1) * math.cos(2 * j * xip) * math.sinh(2 * j * etap)
        j += 1
      }
      (p.fe + p.k0 * ell.ka * eta, p.fn + p.k0 * ell.ka * (xi - tmercXi0))
    }

    private def tmercInv(p: Tmerc, x: Double, y: Double): (Double, Double) = {
      val xi = (y - p.fn) / (p.k0 * ell.ka) + tmercXi0
      val eta = (x - p.fe) / (p.k0 * ell.ka)
      var xip = xi
      var etap = eta
      var j = 1
      while (j <= 4) {
        xip -= ell.beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
        etap -= ell.beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
        j += 1
      }
      val dlam = math.atan2(math.sinh(etap), math.cos(xip))
      // conformal latitude chi -> geodetic via the shared ts iteration
      val chi = math.atan2(math.sin(xip),
        math.hypot(math.sinh(etap), math.cos(xip)))
      val phi = phiFromTs(ell, math.tan(math.Pi / 4 - chi / 2))
      (p.lon0 + math.toDegrees(dlam), math.toDegrees(phi))
    }

    // ---- Lambert Conformal Conic 2SP (EPSG method 9802)

    private def mFn(phi: Double) =
      math.cos(phi) / math.sqrt(1 - ell.e2 * math.sin(phi) * math.sin(phi))
    private def tFn(phi: Double) = {
      val esin = ell.e * math.sin(phi)
      math.tan(math.Pi / 4 - phi / 2) / math.pow((1 - esin) / (1 + esin), ell.e / 2)
    }

    private def lccConstsOf(p: Lcc2sp): (Double, Double, Double) = {
      val (phi0, phi1, phi2) =
        (math.toRadians(p.lat0), math.toRadians(p.sp1), math.toRadians(p.sp2))
      val n = (math.log(mFn(phi1)) - math.log(mFn(phi2))) /
        (math.log(tFn(phi1)) - math.log(tFn(phi2)))
      val bigF = mFn(phi1) / (n * math.pow(tFn(phi1), n))
      val rho0 = ell.a * bigF * math.pow(tFn(phi0), n)
      (n, bigF, rho0)
    }

    private def lccFwd(p: Lcc2sp, lon: Double, lat: Double): (Double, Double) = {
      val (n, bigF, rho0) = lccC
      val rho = ell.a * bigF * math.pow(tFn(math.toRadians(lat)), n)
      val theta = n * math.toRadians(lon - p.lon0)
      (p.fe + rho * math.sin(theta), p.fn + rho0 - rho * math.cos(theta))
    }

    private def lccInv(p: Lcc2sp, x: Double, y: Double): (Double, Double) = {
      val (n, bigF, rho0) = lccC
      val dx = x - p.fe
      val dy = rho0 - (y - p.fn)
      val rho = math.signum(n) * math.hypot(dx, dy)
      val theta = math.atan2(dx, dy) // valid for n > 0; all table grids have n > 0
      val ts = math.pow(rho / (ell.a * bigF), 1 / n)
      (p.lon0 + math.toDegrees(theta / n), math.toDegrees(phiFromTs(ell, ts)))
    }

    // ---- Albers Equal-Area (EPSG method 9822)

    /** authalic q (Snyder eq. 3-12) */
    private def qFn(phi: Double) = {
      val s = math.sin(phi)
      (1 - ell.e2) * (s / (1 - ell.e2 * s * s) -
        (1 / (2 * ell.e)) * math.log((1 - ell.e * s) / (1 + ell.e * s)))
    }

    private def albersConstsOf(p: AlbersK): (Double, Double, Double) = {
      val (phi0, phi1, phi2) =
        (math.toRadians(p.lat0), math.toRadians(p.sp1), math.toRadians(p.sp2))
      val n = (mFn(phi1) * mFn(phi1) - mFn(phi2) * mFn(phi2)) / (qFn(phi2) - qFn(phi1))
      val c = mFn(phi1) * mFn(phi1) + n * qFn(phi1)
      val rho0 = ell.a * math.sqrt(c - n * qFn(phi0)) / n
      (n, c, rho0)
    }

    private def albersFwd(p: AlbersK, lon: Double, lat: Double): (Double, Double) = {
      val (n, c, rho0) = albersC
      val rho = ell.a * math.sqrt(c - n * qFn(math.toRadians(lat))) / n
      val theta = n * math.toRadians(lon - p.lon0)
      (p.fe + rho * math.sin(theta), p.fn + rho0 - rho * math.cos(theta))
    }

    private def albersInv(p: AlbersK, x: Double, y: Double): (Double, Double) = {
      val (n, c, rho0) = albersC
      val dx = x - p.fe
      val dy = rho0 - (y - p.fn)
      val rho = math.hypot(dx, dy)
      val theta = math.atan2(dx, dy)
      val q = (c - math.pow(rho * n / ell.a, 2)) / n
      // authalic -> geodetic, Snyder eq. 3-16 fixed point
      var phi = math.asin(math.min(1.0, math.max(-1.0, q / 2)))
      var i = 0
      while (i < 15) {
        val s = math.sin(phi)
        val om = 1 - ell.e2 * s * s
        val next = phi + om * om / (2 * math.cos(phi)) *
          (q / (1 - ell.e2) - s / om +
            1 / (2 * ell.e) * math.log((1 - ell.e * s) / (1 + ell.e * s)))
        if (math.abs(next - phi) < 1e-13) { phi = next; i = 15 } else { phi = next; i += 1 }
      }
      (p.lon0 + math.toDegrees(theta / n), math.toDegrees(phi))
    }

    // ---- Polar Stereographic variant B (EPSG method 9829)

    /** north-aspect t(phi) (Snyder eq. 15-9) */
    private def psT(phi: Double) = {
      val esin = ell.e * math.sin(phi)
      math.tan(math.Pi / 4 - phi / 2) * math.pow((1 + esin) / (1 - esin), ell.e / 2)
    }

    private def psFwd(p: PolarStereo, lon: Double, lat: Double): (Double, Double) = {
      val south = p.latTs < 0
      val (tc, mc) = psC
      val phi = math.toRadians(if (south) -lat else lat)
      val rho = ell.a * mc * psT(phi) / tc
      val theta = math.toRadians(lon - p.lon0)
      if (south) (p.fe + rho * math.sin(theta), p.fn + rho * math.cos(theta))
      else (p.fe + rho * math.sin(theta), p.fn - rho * math.cos(theta))
    }

    private def psInv(p: PolarStereo, x: Double, y: Double): (Double, Double) = {
      val south = p.latTs < 0
      val (tc, mc) = psC
      val dx = x - p.fe
      val dy = y - p.fn
      val rho = math.hypot(dx, dy)
      val ts = rho * tc / (ell.a * mc)
      val phiN = phiFromTs(ell, ts)
      val theta = if (south) math.atan2(dx, dy) else math.atan2(dx, -dy)
      // atan2 puts lon in (lon0-180, lon0+180]; wrap to (-180, 180]
      val lon = p.lon0 + math.toDegrees(theta)
      val wrapped = if (lon <= -180) lon + 360 else if (lon > 180) lon - 360 else lon
      (wrapped, math.toDegrees(if (south) -phiN else phiN))
    }

    // ---- Hotine oblique Mercator, variant B (EPSG method 9815; the
    // formulas are the published EPSG Guidance Note 7-2 set — Snyder
    // p. 66-76 "Oblique Mercator" in rectified-skew form)

    // ---- Lambert Azimuthal Equal Area, oblique (EPSG method 9820)

    /** (qP, betaO, Rq, D) — Snyder eqs. 3-12/3-11/(24-20)/(24-21), the
      * EPSG GN7-2 constant set for the oblique ellipsoidal aspect. */
    private lazy val laeaC: (Double, Double, Double, Double) = kernel match {
      case l: Laea =>
        val phi0 = math.toRadians(l.lat0)
        val qP = qFn(math.Pi / 2)
        val betaO = math.asin(qFn(phi0) / qP)
        val rq = ell.a * math.sqrt(qP / 2)
        val d = ell.a * mFn(phi0) / (rq * math.cos(betaO))
        (qP, betaO, rq, d)
      case _ => (0.0, 0.0, 0.0, 0.0)
    }

    private def laeaFwd(p: Laea, lon: Double, lat: Double): (Double, Double) = {
      val (qP, betaO, rq, d) = laeaC
      val beta = math.asin(math.min(1.0, math.max(-1.0,
        qFn(math.toRadians(lat)) / qP)))
      var dlam = math.toRadians(lon - p.lon0)
      if (dlam > math.Pi) dlam -= 2 * math.Pi
      if (dlam < -math.Pi) dlam += 2 * math.Pi
      val (sb, cb) = (math.sin(beta), math.cos(beta))
      val (sbO, cbO) = (math.sin(betaO), math.cos(betaO))
      val bBig = rq * math.sqrt(2 / (1 + sbO * sb + cbO * cb * math.cos(dlam)))
      (p.fe + bBig * d * cb * math.sin(dlam),
        p.fn + (bBig / d) * (cbO * sb - sbO * cb * math.cos(dlam)))
    }

    private def laeaInv(p: Laea, x: Double, y: Double): (Double, Double) = {
      val (qP, betaO, rq, d) = laeaC
      val xx = x - p.fe
      val yy = y - p.fn
      val rho = math.hypot(xx / d, d * yy)
      if (rho < 1e-9) return (p.lon0, p.lat0)
      val c = 2 * math.asin(math.min(1.0, rho / (2 * rq)))
      val (sinC, cosC) = (math.sin(c), math.cos(c))
      val q1 = qP * (cosC * math.sin(betaO) +
        d * yy * sinC * math.cos(betaO) / rho)
      val lam = math.toRadians(p.lon0) + math.atan2(xx * sinC,
        d * rho * math.cos(betaO) * cosC - d * d * yy * math.sin(betaO) * sinC)
      // authalic -> geodetic latitude: Snyder eq. 3-16 fixed point from
      // phi0 = asin(q'/2); poles short-circuit (cos phi -> 0 blows the
      // correction term up, and |q'| ~ qP pins the latitude anyway)
      var phi = math.asin(math.min(1.0, math.max(-1.0, q1 / 2)))
      if (math.abs(math.abs(q1) - qP) < 1e-12) {
        phi = math.signum(q1) * math.Pi / 2
      } else {
        var i = 0
        while (i < 15) {
          val s = math.sin(phi)
          val es = ell.e * s
          val corr = (math.pow(1 - ell.e2 * s * s, 2) / (2 * math.cos(phi))) *
            (q1 / (1 - ell.e2) - s / (1 - ell.e2 * s * s) +
              (1 / (2 * ell.e)) * math.log((1 - es) / (1 + es)))
          phi += corr
          if (math.abs(corr) < 1e-13) i = 15 else i += 1
        }
      }
      (math.toDegrees(lam), math.toDegrees(phi))
    }

    private def homFwd(p: Hotine, lon: Double, lat: Double): (Double, Double) = {
      val (b, aBig, hBig, gamma0, lam0, uc) = homC
      val gammaC = math.toRadians(p.gammaC)
      val phi = math.toRadians(lat)
      var dlam = math.toRadians(lon) - lam0
      if (dlam > math.Pi) dlam -= 2 * math.Pi
      if (dlam < -math.Pi) dlam += 2 * math.Pi
      val q = hBig / math.pow(tFn(phi), b)
      val sBig = (q - 1 / q) / 2
      val tBig = (q + 1 / q) / 2
      val vBig = math.sin(b * dlam)
      val uBig = (-vBig * math.cos(gamma0) + sBig * math.sin(gamma0)) / tBig
      val v = aBig * math.log((1 - uBig) / (1 + uBig)) / (2 * b)
      val u = aBig * math.atan2(sBig * math.cos(gamma0) + vBig * math.sin(gamma0),
        math.cos(b * dlam)) / b - math.abs(uc) * math.signum(math.toRadians(p.latC))
      (v * math.cos(gammaC) + u * math.sin(gammaC) + p.fe,
        u * math.cos(gammaC) - v * math.sin(gammaC) + p.fn)
    }

    private def homInv(p: Hotine, x: Double, y: Double): (Double, Double) = {
      val (b, aBig, hBig, gamma0, lam0, uc) = homC
      val gammaC = math.toRadians(p.gammaC)
      val vP = (x - p.fe) * math.cos(gammaC) - (y - p.fn) * math.sin(gammaC)
      val uP = (y - p.fn) * math.cos(gammaC) + (x - p.fe) * math.sin(gammaC) +
        math.abs(uc) * math.signum(math.toRadians(p.latC))
      val q = math.exp(-b * vP / aBig)
      val sBig = (q - 1 / q) / 2
      val tBig = (q + 1 / q) / 2
      val vBig = math.sin(b * uP / aBig)
      val uBig = (vBig * math.cos(gamma0) + sBig * math.sin(gamma0)) / tBig
      val t = math.pow(hBig / math.sqrt((1 + uBig) / (1 - uBig)), 1 / b)
      val phi = phiFromTs(ell, t)
      val lam = lam0 - math.atan2(sBig * math.cos(gamma0) - vBig * math.sin(gamma0),
        math.cos(b * uP / aBig)) / b
      val lonDeg = math.toDegrees(lam)
      val wrapped =
        if (lonDeg <= -180) lonDeg + 360
        else if (lonDeg > 180) lonDeg - 360
        else lonDeg
      (wrapped, math.toDegrees(phi))
    }

    /** Krovak forward, EPSG GN7-2 method 9819: conformal sphere (U, V),
      * rotation to the oblique pole, conic (r, θ); Xp = southing,
      * Yp = westing, emitted north-orientated (method 1041 axes). */
    private def krovakFwd(p: Krovak, lon: Double, lat: Double): (Double, Double) = {
      val (_, bBig, t0, n, r0) = krovakC
      val phiP = math.toRadians(p.latP)
      val alphaC = math.toRadians(p.azC)
      val phi = math.toRadians(lat)
      val esin = ell.e * math.sin(phi)
      val u = 2 * (math.atan(t0 * math.pow(math.tan(phi / 2 + math.Pi / 4), bBig) /
        math.pow((1 + esin) / (1 - esin), ell.e * bBig / 2)) - math.Pi / 4)
      val v = bBig * (math.toRadians(p.lonO) - math.toRadians(lon))
      val t = math.asin(math.cos(alphaC) * math.sin(u) +
        math.sin(alphaC) * math.cos(u) * math.cos(v))
      val d = math.asin(math.cos(u) * math.sin(v) / math.cos(t))
      val r = r0 * math.pow(math.tan(math.Pi / 4 + phiP / 2), n) /
        math.pow(math.tan(t / 2 + math.Pi / 4), n)
      val xp = r * math.cos(n * d) // southing
      val yp = r * math.sin(n * d) // westing
      (p.fe - yp, p.fn - xp)
    }

    private def krovakInv(p: Krovak, x: Double, y: Double): (Double, Double) = {
      val (_, bBig, t0, n, r0) = krovakC
      val phiP = math.toRadians(p.latP)
      val alphaC = math.toRadians(p.azC)
      val xp = p.fn - y // southing
      val yp = p.fe - x // westing
      val r = math.hypot(xp, yp)
      val d = math.atan2(yp, xp) / math.sin(phiP)
      val t = 2 * (math.atan(math.pow(r0 / r, 1 / n) *
        math.tan(math.Pi / 4 + phiP / 2)) - math.Pi / 4)
      val u = math.asin(math.cos(alphaC) * math.sin(t) -
        math.sin(alphaC) * math.cos(t) * math.cos(d))
      val v = math.asin(math.cos(t) * math.sin(d) / math.cos(u))
      val lam = math.toRadians(p.lonO) - v / bBig
      val tanU = math.pow(t0, -1 / bBig) *
        math.pow(math.tan(u / 2 + math.Pi / 4), 1 / bBig)
      var phi = u
      var i = 0
      while (i < 15) {
        val esin = ell.e * math.sin(phi)
        val next = 2 * (math.atan(tanU *
          math.pow((1 + esin) / (1 - esin), ell.e / 2)) - math.Pi / 4)
        if (math.abs(next - phi) < 1e-13) { phi = next; i = 15 }
        else { phi = next; i += 1 }
      }
      (math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

  /** Invert the isometric `ts = tan(pi/4 - phi/2) / ((1-e sin)/(1+e sin))
    * ^(e/2)` relation (Snyder eq. 7-9 fixed point); shared by the
    * Mercator, LCC, TM, and polar-stereo inverses. */
  private def phiFromTs(ell: Ellipsoid, ts: Double): Double = {
    var phi = math.Pi / 2 - 2 * math.atan(ts)
    var i = 0
    while (i < 15) {
      val esin = ell.e * math.sin(phi)
      val next = math.Pi / 2 -
        2 * math.atan(ts * math.pow((1 - esin) / (1 + esin), ell.e / 2))
      if (math.abs(next - phi) < 1e-13) { phi = next; i = 15 } else { phi = next; i += 1 }
    }
    phi
  }

  // ------------------------------------------------------------ the EPSG table

  /** Published parameters (EPSG registry — public data). */
  private val Table: Map[String, Crs] = Map(
    "4326" -> Crs(Geographic, WGS84),
    "3857" -> Crs(SphericalMercator, WGS84),
    "900913" -> Crs(SphericalMercator, WGS84),
    "3395" -> Crs(Mercator, WGS84),
    // LCC national grids: Lambert-93 (France), Statistics Canada, ETRS89 Europe
    "2154" -> Crs(Lcc2sp(46.5, 3.0, 44.0, 49.0, 700000.0, 6600000.0), GRS80),
    "3347" -> Crs(Lcc2sp(63.390675, -91.8666666667, 49.0, 77.0, 6200000.0, 3000000.0), GRS80),
    "3034" -> Crs(Lcc2sp(52.0, 10.0, 35.0, 65.0, 4000000.0, 2800000.0), GRS80),
    // NAD83 / Conus Albers (US federal WMS grid)
    "5070" -> Crs(AlbersK(23.0, -96.0, 29.5, 45.5, 0.0, 0.0), GRS80),
    // British National Grid: Airy 1830 + Helmert (reverse of EPSG:1314)
    "27700" -> Crs(Tmerc(49.0, -2.0, 0.9996012717, 400000.0, -100000.0),
      Airy1830, Some(Wgs84ToOsgb36)),
    // Polar stereographic: NSIDC Sea Ice North/South, Arctic/Antarctic PS
    "3413" -> Crs(PolarStereo(70.0, -45.0, 0.0, 0.0), WGS84),
    "3976" -> Crs(PolarStereo(-70.0, 0.0, 0.0, 0.0), WGS84),
    "3031" -> Crs(PolarStereo(-71.0, 0.0, 0.0, 0.0), WGS84),
    "3995" -> Crs(PolarStereo(71.0, 0.0, 0.0, 0.0), WGS84),
    // NZGD2000 / New Zealand Transverse Mercator (NZGD2000 ≡ WGS84 here)
    "2193" -> Crs(Tmerc(0.0, 173.0, 0.9996, 1600000.0, 10000000.0), GRS80),
    // Hotine oblique Mercator (RSO) grids: GDM2000 / Peninsular Malaysia
    // (GDM2000 ≡ WGS84) and Timbalai 1948 / RSO Borneo (m) — azimuth and
    // rectified grid angle from the EPSG registry (sexagesimal → degrees)
    "3375" -> Crs(Hotine(4.0, 102.25, 323.0257964666667, 323.1301023611111,
      0.99984, 804671.0, 0.0), GRS80),
    "29873" -> Crs(Hotine(4.0, 115.0, 53.31582047222222, 53.13010236111111,
      0.99984, 590476.87, 442857.65), Everest1967, Some(Wgs84ToTimbalai1948)),
    // ETRS89-extended / LAEA Europe — the INSPIRE / EEA equal-area grid
    // (ETRS89 ≡ WGS84 at this fidelity, same convention as 25832 etc.)
    "3035" -> Crs(Laea(52.0, 10.0, 4321000.0, 3210000.0), GRS80),
    // CH1903+ / LV95 — the Swiss national grid: EPSG models it as Hotine
    // oblique Mercator variant B with azimuth = rectified angle = 90°
    // (the homC 90° closed form), centre Bern (46°57'08.66"N 7°26'22.5"E),
    // k0 = 1 on Bessel 1841, with the exact CH1903+ translation
    "2056" -> Crs(Hotine(46.952405555555556, 7.439583333333333, 90.0, 90.0,
      1.0, 2600000.0, 1200000.0), Bessel1841, Some(Wgs84ToCh1903Plus)),
    // S-JTSK / Krovak East North — the Czech/Slovak national grid. EPSG
    // method 1041 on Bessel 1841: centre 49°30'N, origin 24°50'E of
    // Greenwich (42°30' E of Ferro), cone axis co-latitude
    // 30°17'17.3031", pseudo standard parallel 78°30' at k = 0.9999,
    // FE = FN = 0 (coordinates are negative by construction)
    "5514" -> Crs(Krovak(49.5, 24.833333333333332, 30.288139750000003,
      78.5, 0.9999, 0.0, 0.0), Bessel1841, Some(Wgs84ToSJtsk)))

  /** Japan Plane Rectangular CS zone origins I-XIX — (lat0, lon0)
    * degrees, from the GSI zone definitions (public). Zone N = index
    * N-1; sexagesimal minutes folded to decimal. */
  private val JprcsOrigins: Vector[(Double, Double)] = Vector(
    (33.0, 129.5), // I     Nagasaki / south Kagoshima
    (33.0, 131.0), // II    Fukuoka-Oita belt
    (36.0, 132.0 + 10.0 / 60), // III  western Honshu
    (33.0, 133.5), // IV    Shikoku
    (36.0, 134.0 + 20.0 / 60), // V    Hyogo-Tottori-Okayama
    (36.0, 136.0), // VI    Kyoto-Osaka-Nara belt
    (36.0, 137.0 + 10.0 / 60), // VII  Ishikawa-Toyama-Gifu-Aichi
    (36.0, 138.5), // VIII  Niigata-Nagano-Yamanashi-Shizuoka
    (36.0, 139.0 + 50.0 / 60), // IX   greater Tokyo
    (40.0, 140.0 + 50.0 / 60), // X    northern Honshu
    (44.0, 140.0 + 15.0 / 60), // XI   west Hokkaido
    (44.0, 142.0 + 15.0 / 60), // XII  central Hokkaido
    (44.0, 144.0 + 15.0 / 60), // XIII east Hokkaido
    (26.0, 142.0), // XIV   Ogasawara
    (26.0, 127.5), // XV    Okinawa main island
    (26.0, 124.0), // XVI   Sakishima
    (26.0, 131.0), // XVII  Daito islands
    (20.0, 136.0), // XVIII Okinotorishima
    (26.0, 154.0)) // XIX   Minamitorishima

  /** Resolve an `epsg:NNNN`-style code (case-insensitive) to its CRS:
    * the static table plus the parameterized UTM families 326xx/327xx
    * (WGS84), 258xx (ETRS89/GRS80, zones 28-38), DHDN Gauss-Krüger
    * 31466-69, and the JGD2011 Japan Plane Rectangular zones
    * 6669-6687. */
  def crs(srs: String): Option[Crs] = {
    val code = srs.toLowerCase.stripPrefix("epsg:")
    Table.get(code).orElse {
      def utm(zone: Int, north: Boolean, ell: Ellipsoid) =
        Crs(Tmerc(0.0, zone * 6 - 183, 0.9996, 500000.0,
          if (north) 0.0 else 10000000.0), ell)
      code match {
        case c if c.length == 5 && c.startsWith("326") =>
          c.substring(3).toIntOption.filter(z => z >= 1 && z <= 60)
            .map(z => utm(z, north = true, WGS84))
        case c if c.length == 5 && c.startsWith("327") =>
          c.substring(3).toIntOption.filter(z => z >= 1 && z <= 60)
            .map(z => utm(z, north = false, WGS84))
        case c if c.length == 5 && c.startsWith("258") =>
          c.substring(3).toIntOption.filter(z => z >= 28 && z <= 38)
            .map(z => utm(z, north = true, GRS80))
        // NAD27 / UTM zones 1N-23N (26701-26723): UTM on Clarke 1866
        // plus the CONUS geocentric translation (reverse EPSG:1173)
        case c if c.length == 5 && c.startsWith("267") =>
          c.substring(3).toIntOption.filter(z => z >= 1 && z <= 23)
            .map(z => Crs(Tmerc(0.0, z * 6 - 183, 0.9996, 500000.0, 0.0),
              Clarke1866, Some(Wgs84ToNad27)))
        // WGS72 / UTM zones 1N-60N (32201-32260) and 1S-60S
        // (32301-32360): UTM on the WGS72 ellipsoid plus the published
        // WGS72->WGS84 position-vector micro-shift (reverse EPSG:1237)
        // — the Transit-era satellite datum still common in archival
        // marine/seismic COGs
        case c if c.length == 5 && c.startsWith("322") =>
          c.substring(3).toIntOption.filter(z => z >= 1 && z <= 60)
            .map(z => Crs(Tmerc(0.0, z * 6 - 183, 0.9996, 500000.0, 0.0),
              Wgs72Ell, Some(Wgs84ToWgs72)))
        case c if c.length == 5 && c.startsWith("323") =>
          c.substring(3).toIntOption.filter(z => z >= 1 && z <= 60)
            .map(z => Crs(Tmerc(0.0, z * 6 - 183, 0.9996, 500000.0,
              10000000.0), Wgs72Ell, Some(Wgs84ToWgs72)))
        // NAD83 / UTM zones 1N-23N (26901-26923): standard UTM bundle on
        // GRS80; NAD83 ≡ WGS84 at this fidelity (the ETRS89/NZGD2000
        // convention used for 258xx)
        case c if c.length == 5 && c.startsWith("269") =>
          c.substring(3).toIntOption.filter(z => z >= 1 && z <= 23)
            .map(z => utm(z, north = true, GRS80))
        // GDA94 / MGA zones 48-58 (28348-28358) and GDA2020 / MGA zones
        // 46-59 (7846-7859): UTM south bundles on GRS80 (GDA ≡ WGS84 at
        // this fidelity)
        case c if c.length == 5 && c.startsWith("283") =>
          c.substring(3).toIntOption.filter(z => z >= 48 && z <= 58)
            .map(z => utm(z, north = false, GRS80))
        case c if c.length == 4 && c >= "7846" && c <= "7859" =>
          c.toIntOption.map(_ - 7800).map(z => utm(z, north = false, GRS80))
        // SIRGAS 2000 / UTM: 31965-31976 are zones 11N-22N
        // (code − 31954), 31977-31985 are zones 17S-25S (code − 31960);
        // GRS80, SIRGAS2000 ≡ WGS84 at this fidelity
        case c if c.length == 5 && c >= "31965" && c <= "31976" =>
          c.toIntOption.map(_ - 31954).map(z => utm(z, north = true, GRS80))
        case c if c.length == 5 && c >= "31977" && c <= "31985" =>
          c.toIntOption.map(_ - 31960).map(z => utm(z, north = false, GRS80))
        // DHDN / 3-degree Gauss-Krüger zones 2-5 (the legacy German
        // national grids many Länder WMS services still publish):
        // k0 = 1, lon0 = 3°·zone, FE = zone·10⁶ + 500 000, Bessel 1841
        // + the DHDN Helmert
        case c if c.length == 5 && c.startsWith("3146") =>
          // code = 31464 + zone: 31466..31469 are zones 2..5
          c.substring(4).toIntOption.map(_ - 4).filter(z => z >= 2 && z <= 5)
            .map(z => Crs(Tmerc(0.0, 3.0 * z, 1.0, z * 1000000.0 + 500000.0,
              0.0), Bessel1841, Some(Wgs84ToDhdn)))
        // Pulkovo 1942 / Gauss-Krüger zones 2-32 (28402-28432): the
        // classic Soviet/CIS 6-degree zone grid on Krassowsky 1940 —
        // k0 = 1, lon0 = 6°·zone − 3 (zone 1 starts at Greenwich, NOT
        // the UTM −183 convention), FE = zone·10⁶ + 500 000
        case c if c.length == 5 && c.startsWith("284") =>
          c.substring(3).toIntOption.filter(z => z >= 2 && z <= 32)
            .map(z => Crs(Tmerc(0.0, 6.0 * z - 3.0, 1.0,
              z * 1000000.0 + 500000.0, 0.0), Krassowsky1940,
              Some(Wgs84ToPulkovo1942)))
        // CGCS2000 / Gauss-Krüger (China's modern national grid; the
        // CGCS2000 ellipsoid is a = 6378137, 1/f = 298.257222101 — GRS80
        // to 1 part in 10⁹ — and CGCS2000 ≡ WGS84 at this fidelity, the
        // NAD83/GDA/JGD2011 plain-bundle convention). Four EPSG ranges,
        // all k0 = 1, FN = 0:
        //   4491-4501: 6° zones 13-23, lon0 = 6z − 3, FE = z·10⁶+500 000
        //   4502-4512: 6° CM 75E..135E (no zone prefix), FE = 500 000
        //   4513-4533: 3° zones 25-45, lon0 = 3z, FE = z·10⁶+500 000
        //   4534-4554: 3° CM 75E..135E (no zone prefix), FE = 500 000
        case c if c.length == 4 && c >= "4491" && c <= "4501" =>
          c.toIntOption.map(_ - 4478).map(z => // zones 13..23
            Crs(Tmerc(0.0, 6.0 * z - 3.0, 1.0, z * 1000000.0 + 500000.0,
              0.0), GRS80))
        case c if c.length == 4 && c >= "4502" && c <= "4512" =>
          c.toIntOption.map(i => 75.0 + 6.0 * (i - 4502)).map(cm =>
            Crs(Tmerc(0.0, cm, 1.0, 500000.0, 0.0), GRS80))
        case c if c.length == 4 && c >= "4513" && c <= "4533" =>
          c.toIntOption.map(_ - 4488).map(z => // zones 25..45
            Crs(Tmerc(0.0, 3.0 * z, 1.0, z * 1000000.0 + 500000.0, 0.0),
              GRS80))
        case c if c.length == 4 && c >= "4534" && c <= "4554" =>
          c.toIntOption.map(i => 75.0 + 3.0 * (i - 4534)).map(cm =>
            Crs(Tmerc(0.0, cm, 1.0, 500000.0, 0.0), GRS80))
        // JGD2011 / Japan Plane Rectangular CS zones I-XIX (6669-6687):
        // a parameterized TM family — per-zone origin from the GSI
        // zone table, k0 = 0.9999, FE = FN = 0, GRS80 (JGD2011 ≡ WGS84
        // at this fidelity, the NZGD2000/ETRS89 convention)
        case c if c.length == 4 && c >= "6669" && c <= "6687" =>
          c.toIntOption.map(_ - 6668).map { z =>
            val (lat0, lon0) = JprcsOrigins(z - 1)
            Crs(Tmerc(lat0, lon0, 0.9999, 0.0, 0.0), GRS80)
          }
        case _ => None
      }
    }
  }

  /** Actionable refusal text for an unsupported code: names the nearest
    * supported family when the code sits in a well-known EPSG block, so
    * a user with an odd national grid learns the workaround instead of
    * just "unsupported". Public EPSG block layout; datum-shift sizes are
    * why the near-misses refuse rather than silently approximate. */
  def unsupportedMessage(srs: String): String = {
    val code = srs.toLowerCase.stripPrefix("epsg:")
    // display bare numeric codes as EPSG:NNNN (the COG GeoKey path passes
    // the raw integer; error text should name the registry)
    val disp = if (code.nonEmpty && code.forall(_.isDigit)) s"EPSG:$code" else srs
    val hint = code.toIntOption.collect {
      case c if c >= 30161 && c <= 30179 =>
        s"Tokyo-datum Plane Rectangular zone ${c - 30160} — the ~400 m " +
          s"Tokyo→JGD shift needs grid files; use EPSG:${6668 + (c - 30160)} " +
          s"(JGD2011 zone ${c - 30160}, supported)"
      case c if c >= 2443 && c <= 2461 =>
        s"JGD2000 Plane Rectangular zone ${c - 2442} — use " +
          s"EPSG:${6668 + (c - 2442)} (JGD2011, identical at this fidelity, supported)"
      case c if c >= 21413 && c <= 21423 =>
        s"Beijing 1954 / Gauss-Krüger zone ${c - 21400} — the " +
          "Beijing54→CGCS2000 shift is region-dependent (no single " +
          "verifiable Helmert; ~dozens of metres); for modern data use " +
          s"EPSG:${4478 + (c - 21400)} (CGCS2000 zone ${c - 21400}, supported)"
    }
    s"unsupported SRS '$disp'" + hint.map("; " + _).getOrElse(
      "; supported families: 4326/3857/900913/3395, UTM 326xx/327xx, " +
        "ETRS89 258xx, NAD83 269xx, NAD27 267xx, WGS72 322xx/323xx, " +
        "MGA 283xx/78xx, SIRGAS 319xx, " +
        "Pulkovo GK 284xx, DHDN GK 3146x, CGCS2000 GK 4491-4554, " +
        "JPRCS 6669-6687, LCC " +
        "2154/3347/3034, Albers 5070, polar stereo 3413/3976/3031/3995, " +
        "27700, 2193, 3375/29873, 3035, 2056, 5514")
  }

  /** Forward projection (WGS84 lon/lat degrees -> metres) for an
    * `epsg:NNNN` code, None for unsupported codes. */
  def forward(srs: String): Option[(Double, Double) => (Double, Double)] =
    crs(srs).map(c => c.forward _)

  /** Inverse projection (metres -> WGS84 lon/lat degrees). */
  def inverse(srs: String): Option[(Double, Double) => (Double, Double)] =
    crs(srs).map(c => c.inverse _)

  // ------------------------------------------- legacy direct-kernel entry points

  /** Spherical web mercator (EPSG:3857). */
  def to3857(lon: Double, lat: Double): (Double, Double) =
    Crs(SphericalMercator, WGS84).forward(lon, lat)

  /** Ellipsoidal Mercator (EPSG:3395), Snyder eq. 7-7. */
  def to3395(lon: Double, lat: Double): (Double, Double) =
    Crs(Mercator, WGS84).forward(lon, lat)

  /** UTM (EPSG:326zz north / 327zz south): k0=0.9996, FE=500000,
    * FN=10000000 in the south. */
  def toUtm(zone: Int, north: Boolean)(lon: Double, lat: Double): (Double, Double) = {
    require(zone >= 1 && zone <= 60, s"UTM zone $zone")
    Crs(Tmerc(0.0, zone * 6 - 183, 0.9996, 500000.0,
      if (north) 0.0 else 10000000.0), WGS84).forward(lon, lat)
  }

  /** LCC parameter bundle kept for existing call sites/specs. */
  final case class LccParams(lat0: Double, lon0: Double, sp1: Double,
      sp2: Double, fe: Double, fn: Double)

  def toLcc(p: LccParams)(lon: Double, lat: Double): (Double, Double) =
    Crs(Lcc2sp(p.lat0, p.lon0, p.sp1, p.sp2, p.fe, p.fn), WGS84).forward(lon, lat)

  /** rasterio `transform_bounds(..., densify_pts=21)` equivalent: project
    * `densify + 2` points along each bbox edge and take the min/max — the
    * projected image of a straight lat/lon edge is curved in a projected
    * CRS, so corners alone under-cover. */
  def transformBounds(proj: (Double, Double) => (Double, Double),
      west: Double, south: Double, east: Double, north: Double,
      densify: Int = 21): (Double, Double, Double, Double) = {
    require(densify >= 0)
    val n = densify + 1
    val pts = (0 to n).flatMap { i =>
      val fx = west + (east - west) * i / n
      val fy = south + (north - south) * i / n
      Seq((fx, south), (fx, north), (west, fy), (east, fy))
    }
    val projected = pts.map { case (lo, la) => proj(lo, la) }
    (projected.map(_._1).min, projected.map(_._2).min,
      projected.map(_._1).max, projected.map(_._2).max)
  }
}
