package graft.ops

/** Parameterized map projections + datum shifts — the one CRS
  * implementation.
  *
  * The reference accepts any pyproj CRS for spatial extents
  * (openeo_odc_driver.py:1036-1078). This module implements the public
  * Snyder formulas (USGS PP 1395) over explicit parameters, the
  * 7-parameter Helmert datum shift (position-vector convention, the
  * published EPSG method for legacy datums like OSGB36/DHDN), a registry
  * of EPSG codes (4326, UTM, 3035, 3857, 2154 and the national grids), and
  * a proj-string parser — so a bbox in e.g. the British National Grid
  * (EPSG:27700) or any `+proj=tmerc/lcc/laea/utm/merc` definition
  * transforms through the same code as a UTM one.
  *
  * Everything here is driver-side vertex math (4 bbox corners, polygon
  * rings): accuracy ~1e-2 m from the series truncation, far below a
  * 10 m pixel.
  */
final case class Ellipsoid(a: Double, invF: Double) {
  val f: Double = 1.0 / invF
  val e2: Double = f * (2 - f)
  val e: Double = math.sqrt(e2)
  val ep2: Double = e2 / (1 - e2)
}

object Ellipsoid {
  val Wgs84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val Grs80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646)
  val Bessel1841: Ellipsoid = Ellipsoid(6377397.155, 299.1528128)
  val Intl1924: Ellipsoid = Ellipsoid(6378388.0, 297.0)
  val Clarke1866: Ellipsoid = Ellipsoid(6378206.4, 294.9786982)

  def byName(name: String): Option[Ellipsoid] = name.toLowerCase match {
    case "wgs84" => Some(Wgs84)
    case "grs80" => Some(Grs80)
    case "airy" => Some(Airy1830)
    case "bessel" => Some(Bessel1841)
    case "intl" => Some(Intl1924)
    case "clrk66" => Some(Clarke1866)
    case _ => None
  }
}

/** 7-parameter Helmert transform, position-vector rotation convention
  * (EPSG method 9606): local datum → WGS84. Rotations in arc-seconds,
  * scale in ppm. The inverse (WGS84 → local) negates the parameters —
  * exact to the same small-angle approximation the method itself makes. */
final case class Helmert(tx: Double, ty: Double, tz: Double,
    rxAs: Double, ryAs: Double, rzAs: Double, ppm: Double) {
  private val rx = math.toRadians(rxAs / 3600.0)
  private val ry = math.toRadians(ryAs / 3600.0)
  private val rz = math.toRadians(rzAs / 3600.0)
  private val s = 1.0 + ppm * 1e-6

  private def apply(x: Double, y: Double, z: Double,
      sign: Double): (Double, Double, Double) = {
    val (ttx, tty, ttz) = (sign * tx, sign * ty, sign * tz)
    val (rrx, rry, rrz) = (sign * rx, sign * ry, sign * rz)
    val ss = if (sign > 0) s else 2.0 - s // 1/(1+p) ≈ 1-p at ppm scale
    (ttx + ss * (x - rrz * y + rry * z),
      tty + ss * (rrz * x + y - rrx * z),
      ttz + ss * (-rry * x + rrx * y + z))
  }

  /** geodetic on `from` ellipsoid → geodetic on `to` ellipsoid, shifting
    * through geocentric XYZ. sign=+1 applies local→WGS84, -1 the reverse. */
  def shift(lonDeg: Double, latDeg: Double, from: Ellipsoid, to: Ellipsoid,
      sign: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
    val n = from.a / math.sqrt(1 - from.e2 * math.sin(phi) * math.sin(phi))
    val x = n * math.cos(phi) * math.cos(lam)
    val y = n * math.cos(phi) * math.sin(lam)
    val z = n * (1 - from.e2) * math.sin(phi)
    val (x2, y2, z2) = apply(x, y, z, sign)
    // geocentric → geodetic (iterative; h=0 assumption errs < 1e-9 deg)
    val lam2 = math.atan2(y2, x2)
    val p = math.sqrt(x2 * x2 + y2 * y2)
    var phi2 = math.atan2(z2, p * (1 - to.e2))
    var i = 0
    while (i < 6) {
      val n2 = to.a / math.sqrt(1 - to.e2 * math.sin(phi2) * math.sin(phi2))
      phi2 = math.atan2(z2 + to.e2 * n2 * math.sin(phi2), p)
      i += 1
    }
    (math.toDegrees(lam2), math.toDegrees(phi2))
  }
}

/** A projection maps geodetic degrees on its own ellipsoid/datum to
  * projected meters and back. */
sealed trait Projection {
  def forward(lonDeg: Double, latDeg: Double): (Double, Double)
  def inverse(x: Double, y: Double): (Double, Double)
}

/** Ellipsoidal Transverse Mercator (Snyder PP 1395 pp. 60-64) with free
  * origin/scale/offsets — UTM is the (lat0=0, k0=0.9996, fe=500km)
  * special case; national grids (OSGB, NZTM, Gauss-Krüger) are others. */
final case class TransverseMercator(ell: Ellipsoid, lat0Deg: Double,
    lon0Deg: Double, k0: Double, fe: Double, fn: Double) extends Projection {
  import ell.{a, e2, ep2}
  private val lam0 = math.toRadians(lon0Deg)

  private def mOf(phi: Double): Double =
    a * ((1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256) * phi -
      (3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * e2 * e2 * e2 / 1024) * math.sin(2 * phi) +
      (15 * e2 * e2 / 256 + 45 * e2 * e2 * e2 / 1024) * math.sin(4 * phi) -
      (35 * e2 * e2 * e2 / 3072) * math.sin(6 * phi))
  private val m0 = mOf(math.toRadians(lat0Deg))

  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
    val n = a / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
    val t = math.tan(phi) * math.tan(phi)
    val c = ep2 * math.cos(phi) * math.cos(phi)
    val bigA = (lam - lam0) * math.cos(phi)
    val m = mOf(phi)
    val x = fe + k0 * n * (bigA + (1 - t + c) * math.pow(bigA, 3) / 6 +
      (5 - 18 * t + t * t + 72 * c - 58 * ep2) * math.pow(bigA, 5) / 120)
    val y = fn + k0 * (m - m0 + n * math.tan(phi) * (bigA * bigA / 2 +
      (5 - t + 9 * c + 4 * c * c) * math.pow(bigA, 4) / 24 +
      (61 - 58 * t + t * t + 600 * c - 330 * ep2) * math.pow(bigA, 6) / 720))
    (x, y)
  }

  def inverse(x: Double, y: Double): (Double, Double) = {
    val m = m0 + (y - fn) / k0
    val mu = m / (a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256))
    val e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    val phi1 = mu + (3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * math.sin(2 * mu) +
      (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
      (151 * math.pow(e1, 3) / 96) * math.sin(6 * mu) +
      (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
    val n1 = a / math.sqrt(1 - e2 * math.sin(phi1) * math.sin(phi1))
    val r1 = a * (1 - e2) / math.pow(1 - e2 * math.sin(phi1) * math.sin(phi1), 1.5)
    val t1 = math.tan(phi1) * math.tan(phi1)
    val c1 = ep2 * math.cos(phi1) * math.cos(phi1)
    val d = (x - fe) / (n1 * k0)
    val phi = phi1 - (n1 * math.tan(phi1) / r1) * (d * d / 2 -
      (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * math.pow(d, 4) / 24 +
      (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ep2 - 3 * c1 * c1) *
        math.pow(d, 6) / 720)
    val lam = lam0 + (d - (1 + 2 * t1 + c1) * math.pow(d, 3) / 6 +
      (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ep2 + 24 * t1 * t1) *
        math.pow(d, 5) / 120) / math.cos(phi1)
    (math.toDegrees(lam), math.toDegrees(phi))
  }
}

/** Ellipsoidal Lambert Conformal Conic, two standard parallels (Snyder
  * pp. 107-109) — Lambert-93, ETRS89-LCC, Canada Atlas, Belgian Lambert. */
final case class LambertConformal2SP(ell: Ellipsoid, lat0Deg: Double,
    lon0Deg: Double, lat1Deg: Double, lat2Deg: Double, fe: Double,
    fn: Double) extends Projection {
  import ell.{a, e2, e}
  private val lat0 = math.toRadians(lat0Deg)
  private val lon0 = math.toRadians(lon0Deg)
  private val lat1 = math.toRadians(lat1Deg)
  private val lat2 = math.toRadians(lat2Deg)

  private def mOf(phi: Double): Double =
    math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
  private def tOf(phi: Double): Double =
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)

  private val n =
    if (lat1 == lat2) math.sin(lat1)
    else math.log(mOf(lat1) / mOf(lat2)) / math.log(tOf(lat1) / tOf(lat2))
  private val bigF = mOf(lat1) / (n * math.pow(tOf(lat1), n))
  private val rho0 = a * bigF * math.pow(tOf(lat0), n)

  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
    val rho = a * bigF * math.pow(tOf(phi), n)
    val theta = n * (lam - lon0)
    (fe + rho * math.sin(theta), fn + rho0 - rho * math.cos(theta))
  }

  def inverse(x: Double, y: Double): (Double, Double) = {
    val dx = x - fe; val dy = rho0 - (y - fn)
    val rho = math.signum(n) * math.sqrt(dx * dx + dy * dy)
    val tp = math.pow(rho / (a * bigF), 1 / n)
    val theta = math.atan2(dx, dy)
    val lam = theta / n + lon0
    var phi = math.Pi / 2 - 2 * math.atan(tp)
    var i = 0
    while (i < 8) {
      val es = e * math.sin(phi)
      phi = math.Pi / 2 -
        2 * math.atan(tp * math.pow((1 - es) / (1 + es), e / 2))
      i += 1
    }
    (math.toDegrees(lam), math.toDegrees(phi))
  }
}

/** Ellipsoidal Lambert Azimuthal Equal-Area (Snyder pp. 187-190) with
  * free origin — EPSG:3035 generalized. */
final case class LambertAzimuthalEA(ell: Ellipsoid, lat0Deg: Double,
    lon0Deg: Double, fe: Double, fn: Double) extends Projection {
  import ell.{a, e2, e}
  private val lat0 = math.toRadians(lat0Deg)
  private val lon0 = math.toRadians(lon0Deg)

  private def q(phi: Double): Double = {
    val s = math.sin(phi)
    (1 - e2) * (s / (1 - e2 * s * s) -
      (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
  }
  private val qp = q(math.Pi / 2)
  private val beta1 = math.asin(q(lat0) / qp)
  private val rq = a * math.sqrt(qp / 2)
  private val m1 = math.cos(lat0) / math.sqrt(1 - e2 * math.sin(lat0) * math.sin(lat0))
  private val d = a * m1 / (rq * math.cos(beta1))

  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
    val beta = math.asin(q(phi) / qp)
    val b = rq * math.sqrt(2 / (1 + math.sin(beta1) * math.sin(beta) +
      math.cos(beta1) * math.cos(beta) * math.cos(lam - lon0)))
    (fe + b * d * math.cos(beta) * math.sin(lam - lon0),
      fn + (b / d) * (math.cos(beta1) * math.sin(beta) -
        math.sin(beta1) * math.cos(beta) * math.cos(lam - lon0)))
  }

  def inverse(x: Double, y: Double): (Double, Double) = {
    val dx = (x - fe) / d; val dy = d * (y - fn)
    val rho = math.sqrt(dx * dx + dy * dy)
    if (rho == 0.0) return (math.toDegrees(lon0), math.toDegrees(lat0))
    val ce = 2 * math.asin(math.max(-1.0, math.min(1.0, rho / (2 * rq))))
    val qv = qp * (math.cos(ce) * math.sin(beta1) +
      dy * math.sin(ce) * math.cos(beta1) / rho)
    val lam = lon0 + math.atan2(dx * math.sin(ce),
      rho * math.cos(beta1) * math.cos(ce) -
        dy * math.sin(beta1) * math.sin(ce))
    var phi = math.asin(math.max(-1.0, math.min(1.0, qv / 2)))
    var i = 0
    while (i < 6) {
      val s = math.sin(phi)
      val om = 1 - e2 * s * s
      phi += (om * om / (2 * math.cos(phi))) *
        (qv / (1 - e2) - s / om +
          (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
      i += 1
    }
    (math.toDegrees(lam), math.toDegrees(phi))
  }
}

/** Ellipsoidal Polar Stereographic (Snyder pp. 160-162; EPSG methods
  * 9810/9829). `latTsDeg` is the SIGNED standard parallel (variant B —
  * EPSG:3031 is −71, EPSG:3413 is +70); ±90 selects variant A with scale
  * `k0` at the pole. The south aspect computes the north formulas on
  * (−φ, −(λ−λ0)) with outputs negated (Snyder 21-41's sign reversal). */
final case class PolarStereographic(ell: Ellipsoid, latTsDeg: Double,
    lon0Deg: Double, k0: Double, fe: Double, fn: Double) extends Projection {
  import ell.{a, e2, e}
  require(latTsDeg != 0.0,
    "polar stereographic needs a signed lat_ts (or ±90 for variant A)")
  private val sgn = if (latTsDeg < 0) -1.0 else 1.0
  private val lon0 = math.toRadians(lon0Deg)

  private def tOf(phi: Double): Double =
    math.tan(math.Pi / 4 - phi / 2) *
      math.pow((1 + e * math.sin(phi)) / (1 - e * math.sin(phi)), e / 2)
  private def mOf(phi: Double): Double =
    math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))

  /** ρ = rhoFactor · t(φ'): a·m_c/t_c at a true-scale parallel (variant
    * B), 2·a·k0/√((1+e)^(1+e)·(1−e)^(1−e)) at the pole (variant A). */
  private val rhoFactor = {
    val absTs = math.toRadians(math.abs(latTsDeg))
    if (math.abs(latTsDeg) == 90.0)
      2.0 * a * k0 / math.sqrt(
        math.pow(1 + e, 1 + e) * math.pow(1 - e, 1 - e))
    else a * mOf(absTs) / tOf(absTs)
  }

  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(sgn * latDeg)
    val dlam = sgn * (math.toRadians(lonDeg) - lon0)
    val rho = rhoFactor * tOf(phi)
    (fe + sgn * rho * math.sin(dlam), fn + sgn * (-rho * math.cos(dlam)))
  }

  def inverse(x: Double, y: Double): (Double, Double) = {
    val xn = sgn * (x - fe); val yn = sgn * (y - fn)
    val rho = math.sqrt(xn * xn + yn * yn)
    val t = rho / rhoFactor
    val lamN = sgn * lon0 + math.atan2(xn, -yn)
    var phi = math.Pi / 2 - 2 * math.atan(t)
    var i = 0
    while (i < 8) {
      val es = e * math.sin(phi)
      phi = math.Pi / 2 -
        2 * math.atan(t * math.pow((1 - es) / (1 + es), e / 2))
      i += 1
    }
    // wrap to (-180, 180]: the +-(lam - lon0) composition can leave the
    // result a full turn off near the antimeridian
    val lamDeg = math.toDegrees(sgn * lamN)
    val wrapped = lamDeg - 360.0 * math.floor((lamDeg + 180.0) / 360.0)
    (if (wrapped == -180.0) 180.0 else wrapped, math.toDegrees(sgn * phi))
  }
}

/** Oblique ("double") Stereographic, EPSG method 9809: conformal sphere
  * at the origin then spherical stereographic — the Netherlands RD New
  * (EPSG:28992) projection, PROJ's `+proj=sterea`. Formulas from the
  * published EPSG Guidance Note 7-2. NOT the same as Snyder's oblique
  * stereographic (PROJ `+proj=stere` oblique), which projects the
  * ellipsoid directly. */
final case class ObliqueStereographic(ell: Ellipsoid, lat0Deg: Double,
    lon0Deg: Double, k0: Double, fe: Double, fn: Double) extends Projection {
  import ell.{a, e2, e}
  private val lat0 = math.toRadians(lat0Deg)
  private val lam0 = math.toRadians(lon0Deg)
  private val s0 = math.sin(lat0)
  private val rho0 = a * (1 - e2) / math.pow(1 - e2 * s0 * s0, 1.5)
  private val nu0 = a / math.sqrt(1 - e2 * s0 * s0)
  private val bigR = math.sqrt(rho0 * nu0)
  private val n = math.sqrt(1 + e2 * math.pow(math.cos(lat0), 4) / (1 - e2))
  private val w1 = math.pow(
    (1 + s0) / (1 - s0) * math.pow((1 - e * s0) / (1 + e * s0), e), n)
  private val chi0a = math.asin((w1 - 1) / (w1 + 1))
  private val c = (n + s0) * (1 - math.sin(chi0a)) /
    ((n - s0) * (1 + math.sin(chi0a)))
  private val w2 = c * w1
  private val chi0 = math.asin((w2 - 1) / (w2 + 1))

  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
    val bigL = n * (lam - lam0) + lam0
    val sp = math.sin(phi)
    val w = c * math.pow(
      (1 + sp) / (1 - sp) * math.pow((1 - e * sp) / (1 + e * sp), e), n)
    val chi = math.asin((w - 1) / (w + 1))
    val dl = bigL - lam0
    val b = 1 + math.sin(chi) * math.sin(chi0) +
      math.cos(chi) * math.cos(chi0) * math.cos(dl)
    (fe + 2 * bigR * k0 * math.cos(chi) * math.sin(dl) / b,
      fn + 2 * bigR * k0 * (math.sin(chi) * math.cos(chi0) -
        math.cos(chi) * math.sin(chi0) * math.cos(dl)) / b)
  }

  def inverse(x: Double, y: Double): (Double, Double) = {
    val de = x - fe; val dn = y - fn
    val g = 2 * bigR * k0 * math.tan(math.Pi / 4 - chi0 / 2)
    val h = 4 * bigR * k0 * math.tan(chi0) + g
    val i = math.atan2(de, h + dn)
    val j = math.atan2(de, g - dn) - i
    val chi = chi0 + 2 * math.atan((dn - de * math.tan(j / 2)) /
      (2 * bigR * k0))
    val bigL = j + 2 * i + lam0
    val lam = (bigL - lam0) / n + lam0
    // conformal → geodetic latitude: invert the isometric latitude by
    // Newton steps (EPSG GN7-2 reverse formulas)
    val psi = 0.5 * math.log(
      (1 + math.sin(chi)) / (c * (1 - math.sin(chi)))) / n
    var phi = 2 * math.atan(math.exp(psi)) - math.Pi / 2
    var it = 0
    while (it < 8) {
      val sp = math.sin(phi)
      val psiI = math.log(math.tan(phi / 2 + math.Pi / 4) *
        math.pow((1 - e * sp) / (1 + e * sp), e / 2))
      phi = phi - (psiI - psi) * math.cos(phi) * (1 - e2 * sp * sp) / (1 - e2)
      it += 1
    }
    (math.toDegrees(lam), math.toDegrees(phi))
  }
}

/** Ellipsoidal Albers Equal-Area Conic, two standard parallels (Snyder
  * pp. 101-102) — CONUS Albers (5070), Australian Albers (3577), the
  * standard continental-mosaic CRS family of OpenDataCube deployments. */
final case class AlbersEqualArea(ell: Ellipsoid, lat0Deg: Double,
    lon0Deg: Double, lat1Deg: Double, lat2Deg: Double, fe: Double,
    fn: Double) extends Projection {
  import ell.{a, e2, e}
  private val lon0 = math.toRadians(lon0Deg)

  private def q(phi: Double): Double = {
    val s = math.sin(phi)
    (1 - e2) * (s / (1 - e2 * s * s) -
      (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
  }
  private def mOf(phi: Double): Double =
    math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))

  private val lat1 = math.toRadians(lat1Deg)
  private val lat2 = math.toRadians(lat2Deg)
  private val m1 = mOf(lat1); private val m2 = mOf(lat2)
  private val q1 = q(lat1); private val q2 = q(lat2)
  private val n =
    if (lat1 == lat2) math.sin(lat1) else (m1 * m1 - m2 * m2) / (q2 - q1)
  private val bigC = m1 * m1 + n * q1
  private val rho0 = a * math.sqrt(bigC - n * q(math.toRadians(lat0Deg))) / n

  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val rho = a * math.sqrt(bigC - n * q(phi)) / n
    val theta = n * (math.toRadians(lonDeg) - lon0)
    (fe + rho * math.sin(theta), fn + rho0 - rho * math.cos(theta))
  }

  def inverse(x: Double, y: Double): (Double, Double) = {
    val dx = x - fe; val dy = rho0 - (y - fn)
    val rho = math.sqrt(dx * dx + dy * dy)
    // for n < 0 (south-parallel cones) both ρ and θ flip sign (Snyder
    // 14-11 note): atan2 of negated operands
    val s = if (n >= 0) 1.0 else -1.0
    val theta = math.atan2(s * dx, s * dy)
    val qv = (bigC - (rho * s) * (rho * s) * n * n / (a * a)) / n
    val lam = lon0 + theta / n
    var phi = math.asin(math.max(-1.0, math.min(1.0, qv / 2)))
    var i = 0
    while (i < 8) {
      val si = math.sin(phi)
      val om = 1 - e2 * si * si
      phi += (om * om / (2 * math.cos(phi))) *
        (qv / (1 - e2) - si / om +
          (1 / (2 * e)) * math.log((1 - e * si) / (1 + e * si)))
      i += 1
    }
    (math.toDegrees(lam), math.toDegrees(phi))
  }
}

/** Spherical Mercator with free radius/offsets (Web-Mercator is R=a(WGS84),
  * zero offsets; Snyder p. 41). Latitudes beyond the square-world edge
  * CLAMP to ±Limit (the universal Web-Mercator convention — a whole-world
  * bbox with north=90 must map to the top edge, not crash). */
final case class SphericalMercator(r: Double, fe: Double, fn: Double)
    extends Projection {
  import SphericalMercator.Limit
  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val cl = math.max(-Limit, math.min(Limit, latDeg))
    (fe + r * math.toRadians(lonDeg),
      fn + r * math.log(math.tan(math.Pi / 4 + math.toRadians(cl) / 2)))
  }
  def inverse(x: Double, y: Double): (Double, Double) =
    (math.toDegrees((x - fe) / r),
      math.toDegrees(2 * math.atan(math.exp((y - fn) / r)) - math.Pi / 2))
}

object SphericalMercator {
  val Limit = 85.051128779806604 // atan(sinh(pi)) — the square world edge
}

/** Geographic "projection": degrees in, degrees out. */
case object GeographicCrs extends Projection {
  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = (lonDeg, latDeg)
  def inverse(x: Double, y: Double): (Double, Double) = (x, y)
}

/** A complete CRS definition: projection + optional datum shift to WGS84.
  * The public entry points take/return WGS84 (EPSG:4326) degrees, applying
  * the Helmert step when the CRS sits on a legacy datum. */
final case class ProjDef(proj: Projection, ell: Ellipsoid,
    toWgs84: Option[Helmert]) {

  /** WGS84 lon/lat degrees → projected (x, y). */
  def fromLonLat(lon: Double, lat: Double): (Double, Double) = toWgs84 match {
    case Some(h) =>
      val (lo, la) = h.shift(lon, lat, Ellipsoid.Wgs84, ell, sign = -1.0)
      proj.forward(lo, la)
    case None => proj.forward(lon, lat)
  }

  /** Projected (x, y) → WGS84 lon/lat degrees. */
  def toLonLat(x: Double, y: Double): (Double, Double) = toWgs84 match {
    case Some(h) =>
      val (lo, la) = proj.inverse(x, y)
      h.shift(lo, la, ell, Ellipsoid.Wgs84, sign = 1.0)
    case None => proj.inverse(x, y)
  }
}

object Proj {
  import Ellipsoid._

  /** UTM zone and hemisphere (true = north) of a WGS84 (326xx/327xx) or
    * ETRS89 (258xx) UTM code; None for any other code. */
  def utmZone(epsg: Int): Option[(Int, Boolean)] =
    if (epsg >= 32601 && epsg <= 32660) Some((epsg - 32600, true))
    else if (epsg >= 32701 && epsg <= 32760) Some((epsg - 32700, false))
    else if (epsg >= 25828 && epsg <= 25838) Some((epsg - 25800, true))
    else None

  /** Registry of supported EPSG codes. All parameters are the published
    * EPSG values. */
  def forEpsg(epsg: Int): Option[ProjDef] = epsg match {
    case 4326 => Some(ProjDef(GeographicCrs, Wgs84, None))
    // ETRS89-extended / LAEA Europe, the EU-wide EO grid
    case 3035 => Some(ProjDef(
      LambertAzimuthalEA(Grs80, 52.0, 10.0, 4321000.0, 3210000.0),
      Grs80, None))
    // WGS84 / Pseudo-Mercator: the projection is DEFINED on the sphere
    // R = a(WGS84), so geodetic latitude on that sphere is exact 3857
    case 3857 => Some(ProjDef(SphericalMercator(Wgs84.a, 0.0, 0.0),
      Wgs84, None))
    // RGF93 / Lambert-93 (ETRS89-aligned: no datum shift at bbox accuracy)
    case 2154 => Some(ProjDef(
      LambertConformal2SP(Grs80, 46.5, 3.0, 49.0, 44.0, 700000.0, 6600000.0),
      Grs80, None))
    // OSGB36 / British National Grid (Airy 1830 + Helmert)
    case 27700 => Some(ProjDef(
      TransverseMercator(Airy1830, 49.0, -2.0, 0.9996012717, 400000.0, -100000.0),
      Airy1830,
      Some(Helmert(446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894))))
    // NZGD2000 / New Zealand Transverse Mercator (ITRF-aligned)
    case 2193 => Some(ProjDef(
      TransverseMercator(Grs80, 0.0, 173.0, 0.9996, 1600000.0, 10000000.0),
      Grs80, None))
    // ETRS89-extended / LCC Europe
    case 3034 => Some(ProjDef(
      LambertConformal2SP(Grs80, 52.0, 10.0, 35.0, 65.0, 4000000.0, 2800000.0),
      Grs80, None))
    // NAD83 / Canada Atlas Lambert (NAD83≈WGS84 at bbox accuracy)
    case 3978 => Some(ProjDef(
      LambertConformal2SP(Grs80, 49.0, -95.0, 49.0, 77.0, 0.0, 0.0),
      Grs80, None))
    // Belge 1972 / Belgian Lambert 72 (Intl 1924 + Helmert)
    case 31370 => Some(ProjDef(
      LambertConformal2SP(Intl1924, 90.0, 4.367486666666666,
        51.166667233333333, 49.8333339, 150000.013, 5400088.438),
      Intl1924,
      Some(Helmert(-106.8686, 52.2978, -103.7239, 0.3366, -0.457, 1.8422, -1.2747))))
    // DHDN / 3-degree Gauss-Krüger zone 3 (Bessel 1841 + Helmert)
    case 31467 => Some(ProjDef(
      TransverseMercator(Bessel1841, 0.0, 9.0, 1.0, 3500000.0, 0.0),
      Bessel1841,
      Some(Helmert(598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7))))
    // NAD83 / UTM zones 1N-23N
    case z if z >= 26901 && z <= 26923 => Some(ProjDef(
      TransverseMercator(Grs80, 0.0, (z - 26900) * 6 - 183, 0.9996,
        500000.0, 0.0),
      Grs80, None))
    // WGS84 / Antarctic Polar Stereographic (polar EO staple)
    case 3031 => Some(ProjDef(
      PolarStereographic(Wgs84, -71.0, 0.0, 1.0, 0.0, 0.0), Wgs84, None))
    // WGS84 / NSIDC Sea Ice Polar Stereographic North
    case 3413 => Some(ProjDef(
      PolarStereographic(Wgs84, 70.0, -45.0, 1.0, 0.0, 0.0), Wgs84, None))
    // WGS84 / NSIDC Sea Ice Polar Stereographic South
    case 3976 => Some(ProjDef(
      PolarStereographic(Wgs84, -70.0, 0.0, 1.0, 0.0, 0.0), Wgs84, None))
    // NAD83 / Conus Albers (NAD83≈WGS84 at bbox accuracy)
    case 5070 => Some(ProjDef(
      AlbersEqualArea(Grs80, 23.0, -96.0, 29.5, 45.5, 0.0, 0.0),
      Grs80, None))
    // GDA94 / Australian Albers — the OpenDataCube-Australia grid
    case 3577 => Some(ProjDef(
      AlbersEqualArea(Grs80, 0.0, 132.0, -18.0, -36.0, 0.0, 0.0),
      Grs80, None))
    // Amersfoort / RD New (Bessel 1841 + Helmert, EPSG tfm 15934-family
    // parameters; double stereographic per EPSG method 9809)
    case 28992 => Some(ProjDef(
      ObliqueStereographic(Bessel1841,
        52.0 + 9.0 / 60 + 22.178 / 3600, 5.0 + 23.0 / 60 + 15.5 / 3600,
        0.9999079, 155000.0, 463000.0),
      Bessel1841,
      Some(Helmert(565.417, 50.3319, 465.552,
        -0.398957, 0.343988, -1.8774, 4.0725))))
    // WGS84 / UTM (326xx north, 327xx south) and ETRS89 / UTM (258xx).
    // 258xx is on GRS80, but GRS80 and WGS84 share the semi-major axis
    // and differ in flattening by <1e-9 (sub-mm on the ground) — far
    // below the Snyder series' own ~1e-2 m truncation, so the WGS84
    // constants serve both
    case other => utmZone(other).map { case (zone, north) =>
      ProjDef(TransverseMercator(Wgs84, 0.0, zone * 6 - 183, 0.9996,
        500000.0, if (north) 0.0 else 10000000.0), Wgs84, None)
    }
  }

  /** Parse a proj-string (`+proj=tmerc +lat_0=49 +lon_0=-2 ...`) into a
    * [[ProjDef]]. Supported projections: longlat, utm, tmerc, lcc, laea,
    * merc. Supported datum handles: `+ellps=`, `+a=`/`+rf=`/`+b=`,
    * `+towgs84=` (3 or 7 parameters). Unknown/malformed definitions raise
    * the typed CrsNotSupported error, never a bare parse exception. */
  def parse(projString: String): ProjDef = {
    def bad(why: String): Nothing =
      throw graft.OpenEoError("CrsNotSupported",
        s"proj definition not supported ($why): $projString")
    val kv: Map[String, String] = projString.trim.split("\\s+").toSeq
      .filter(_.startsWith("+")).map(_.drop(1)).map { t =>
        val i = t.indexOf('=')
        if (i < 0) (t, "") else (t.take(i), t.drop(i + 1))
      }.toMap
    def num(k: String): Option[Double] =
      kv.get(k).map(v => try v.toDouble catch {
        case _: NumberFormatException => bad(s"non-numeric +$k=$v")
      })
    def d(k: String, dflt: Double): Double = num(k).getOrElse(dflt)

    val ell: Ellipsoid = kv.get("ellps") match {
      case Some(name) => Ellipsoid.byName(name).getOrElse(bad(s"ellps $name"))
      case None => (num("a"), num("rf"), num("b")) match {
        case (Some(a), Some(rf), _) => Ellipsoid(a, rf)
        case (Some(a), None, Some(b)) if b == a =>
          Ellipsoid(a, Double.MaxValue) // sphere: f→0
        case (Some(a), None, Some(b)) =>
          Ellipsoid(a, a / (a - b))
        case _ => Wgs84
      }
    }
    val helmert: Option[Helmert] = kv.get("towgs84").map { v =>
      val ps = v.split(",").map(p => try p.trim.toDouble catch {
        case _: NumberFormatException => bad(s"non-numeric towgs84 $p")
      })
      ps.length match {
        case 3 => Helmert(ps(0), ps(1), ps(2), 0, 0, 0, 0)
        case 7 => Helmert(ps(0), ps(1), ps(2), ps(3), ps(4), ps(5), ps(6))
        case n => bad(s"towgs84 needs 3 or 7 parameters, got $n")
      }
    }.filter(h => h.tx != 0 || h.ty != 0 || h.tz != 0 ||
      h.rxAs != 0 || h.ryAs != 0 || h.rzAs != 0 || h.ppm != 0)

    val proj: Projection = kv.getOrElse("proj", bad("missing +proj")) match {
      case "longlat" => GeographicCrs
      case "utm" =>
        val zone = num("zone").map(_.toInt).getOrElse(bad("utm needs +zone"))
        if (zone < 1 || zone > 60) bad(s"utm zone $zone")
        TransverseMercator(ell, 0.0, zone * 6 - 183, 0.9996, 500000.0,
          if (kv.contains("south")) 10000000.0 else 0.0)
      case "tmerc" =>
        TransverseMercator(ell, d("lat_0", 0), d("lon_0", 0),
          num("k").orElse(num("k_0")).getOrElse(1.0), d("x_0", 0), d("y_0", 0))
      case "lcc" =>
        val lat1 = num("lat_1").getOrElse(bad("lcc needs +lat_1"))
        // PROJ defaults: lat_0 = 0 (NOT lat_1), lat_2 = lat_1
        LambertConformal2SP(ell, d("lat_0", 0), d("lon_0", 0), lat1,
          d("lat_2", lat1), d("x_0", 0), d("y_0", 0))
      case "laea" =>
        LambertAzimuthalEA(ell, d("lat_0", 0), d("lon_0", 0),
          d("x_0", 0), d("y_0", 0))
      case "sterea" =>
        // double stereographic (EPSG 9809) — any origin
        ObliqueStereographic(ell, d("lat_0", 0), d("lon_0", 0),
          num("k").orElse(num("k_0")).getOrElse(1.0), d("x_0", 0), d("y_0", 0))
      case "stere" =>
        // polar aspect only (lat_0=±90); PROJ's oblique `stere` projects
        // the ellipsoid directly (a different method from sterea/9809) —
        // typed error, not wrong numbers
        val lat0 = d("lat_0", 0)
        if (math.abs(lat0) != 90.0)
          bad("only polar stereographic (+lat_0=±90); for the double " +
            "stereographic use +proj=sterea")
        val ts = num("lat_ts").getOrElse(lat0)
        if (ts == 0.0 || math.signum(ts) != math.signum(lat0))
          bad(s"+lat_ts=$ts must sit on the +lat_0=$lat0 pole's side")
        PolarStereographic(ell, ts, d("lon_0", 0),
          num("k").orElse(num("k_0")).getOrElse(1.0), d("x_0", 0), d("y_0", 0))
      case "aea" =>
        val lat1 = num("lat_1").getOrElse(bad("aea needs +lat_1"))
        AlbersEqualArea(ell, d("lat_0", 0), d("lon_0", 0), lat1,
          d("lat_2", lat1), d("x_0", 0), d("y_0", 0))
      case "merc" =>
        // only SPHERICAL Mercator is implemented (the Web-Mercator
        // +a=R +b=R form). An ellipsoidal definition (+ellps / +rf /
        // +b != +a, PROJ's default for bare "+proj=merc") or a nonzero
        // +lat_ts would be tens of km off — typed error beats silently
        // wrong coordinates.
        if (d("lat_ts", 0) != 0) bad("merc +lat_ts != 0 not supported")
        if (num("k").orElse(num("k_0")).exists(_ != 1.0))
          bad("merc +k != 1 not supported")
        (num("a"), num("b")) match {
          case (Some(a), Some(b)) if a == b =>
            SphericalMercator(a, d("x_0", 0), d("y_0", 0))
          case _ => bad("only spherical merc (+a == +b) is supported")
        }
      case other => bad(s"proj $other")
    }
    ProjDef(proj, ell, helmert)
  }
}
