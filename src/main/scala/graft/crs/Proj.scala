package graft.crs

/** From-scratch CRS kernel: WGS84 <-> polar stereographic (EPSG:3413 north /
  * EPSG:3031 south) and <-> UTM (EPSG:32601-32660 north, 32701-32760 south).
  *
  * The reference whitelists exactly these CRSs (/root/reference/lib/dem.py:35-47)
  * and resolves them via `get_epsg` (/root/reference/lib/dem.py:2255-2284).
  * Formulas follow the public EPSG Guidance Note 7-2 (Polar Stereographic
  * variant B; Transverse Mercator via Krueger series) — no proj library in
  * the sandbox.
  */
object Proj {

  // WGS84 ellipsoid
  val A: Double = 6378137.0
  val F: Double = 1.0 / 298.257223563
  val E2: Double = F * (2 - F)
  val E: Double = math.sqrt(E2)

  /** UTM zone for a lon/lat, mirroring the standard zone formula. */
  def utmEpsg(lon: Double, lat: Double): Int = {
    val zone = math.min(60, math.max(1, ((lon + 180.0) / 6.0).toInt + 1))
    if (lat >= 0) 32600 + zone else 32700 + zone
  }

  // ---------------------------------------------------------------- polar PS
  // EPSG Polar Stereographic variant B. 3413: lat_ts=70N, lon0=-45, FE=FN=0.
  // 3031: lat_ts=-71S, lon0=0, FE=FN=0.

  private def tOf(lat: Double): Double = {
    val sinLat = math.sin(lat)
    math.tan(math.Pi / 4 - lat / 2) /
      math.pow((1 - E * sinLat) / (1 + E * sinLat), E / 2)
  }

  private def mOf(lat: Double): Double = {
    val sinLat = math.sin(lat)
    math.cos(lat) / math.sqrt(1 - E2 * sinLat * sinLat)
  }

  /** Forward polar stereographic; north=true for 3413. Returns (easting, northing). */
  def psForward(lonDeg: Double, latDeg: Double, north: Boolean): (Double, Double) = {
    val (latTs, lon0) = if (north) (math.toRadians(70.0), math.toRadians(-45.0))
                        else (math.toRadians(-71.0), math.toRadians(0.0))
    if (north) {
      val lat = math.toRadians(latDeg); val lon = math.toRadians(lonDeg)
      val t = tOf(lat)
      val rho = A * mOf(latTs) * t / tOf(latTs)
      val x = rho * math.sin(lon - lon0)
      val y = -rho * math.cos(lon - lon0)
      (x, y)
    } else {
      // south: mirror via negated latitudes/longitudes
      val lat = math.toRadians(-latDeg); val lon = math.toRadians(-lonDeg)
      val t = tOf(lat)
      val rho = A * mOf(-latTs) * t / tOf(-latTs)
      val x = rho * math.sin(lon - (-lon0))
      val y = -rho * math.cos(lon - (-lon0))
      (-x, -y)
    }
  }

  /** Inverse polar stereographic. Returns (lonDeg, latDeg). */
  def psInverse(x: Double, y: Double, north: Boolean): (Double, Double) = {
    val (latTs, lon0) = if (north) (math.toRadians(70.0), math.toRadians(-45.0))
                        else (math.toRadians(-71.0), math.toRadians(0.0))
    val (xx, yy, sign) = if (north) (x, y, 1.0) else (-x, -y, -1.0)
    val latTsAbs = math.abs(latTs)
    val rho = math.sqrt(xx * xx + yy * yy)
    val t = rho * tOf(latTsAbs) / (A * mOf(latTsAbs))
    // iterate for latitude
    var lat = math.Pi / 2 - 2 * math.atan(t)
    var i = 0
    while (i < 8) {
      val sinLat = math.sin(lat)
      lat = math.Pi / 2 - 2 * math.atan(
        t * math.pow((1 - E * sinLat) / (1 + E * sinLat), E / 2))
      i += 1
    }
    val lon = (if (north) lon0 else -lon0) + math.atan2(xx, -yy)
    (normLon(math.toDegrees(sign * lon)), math.toDegrees(sign * lat))
  }

  // ------------------------------------------------------------------- UTM
  // Transverse Mercator, Krueger series (as used by EPSG "JHS formulas").

  private val N1 = F / (2 - F) // third flattening
  private val N1_2 = N1 * N1
  private val N1_3 = N1_2 * N1
  private val N1_4 = N1_3 * N1
  private val AA = A / (1 + N1) * (1 + N1_2 / 4 + N1_4 / 64)
  private val Alpha = Array(
    N1 / 2 - 2.0 / 3 * N1_2 + 5.0 / 16 * N1_3 + 41.0 / 180 * N1_4,
    13.0 / 48 * N1_2 - 3.0 / 5 * N1_3 + 557.0 / 1440 * N1_4,
    61.0 / 240 * N1_3 - 103.0 / 140 * N1_4,
    49561.0 / 161280 * N1_4)
  private val Beta = Array(
    N1 / 2 - 2.0 / 3 * N1_2 + 37.0 / 96 * N1_3 - 1.0 / 360 * N1_4,
    N1_2 / 48 + N1_3 / 15 - 437.0 / 1440 * N1_4,
    17.0 / 480 * N1_3 - 37.0 / 840 * N1_4,
    4397.0 / 161280 * N1_4)
  private val K0 = 0.9996
  private val FE = 500000.0

  /** Forward UTM for a given EPSG (326xx/327xx). Returns (easting, northing). */
  def utmForward(lonDeg: Double, latDeg: Double, epsg: Int): (Double, Double) = {
    val zone = epsg % 100
    val south = epsg / 100 == 327
    val lon0 = math.toRadians(zone * 6.0 - 183.0)
    val lat = math.toRadians(latDeg)
    val lon = math.toRadians(lonDeg)
    val t = math.sinh(atanh(math.sin(lat)) - 2 * math.sqrt(N1) / (1 + N1) *
      atanh(2 * math.sqrt(N1) / (1 + N1) * math.sin(lat)))
    val xiP = math.atan2(t, math.cos(lon - lon0))
    val etaP = atanh(math.sin(lon - lon0) / math.sqrt(1 + t * t))
    var xi = xiP; var eta = etaP
    var j = 0
    while (j < 4) {
      xi += Alpha(j) * math.sin(2 * (j + 1) * xiP) * math.cosh(2 * (j + 1) * etaP)
      eta += Alpha(j) * math.cos(2 * (j + 1) * xiP) * math.sinh(2 * (j + 1) * etaP)
      j += 1
    }
    val e = FE + K0 * AA * eta
    val n = (if (south) 10000000.0 else 0.0) + K0 * AA * xi
    (e, n)
  }

  /** Inverse UTM. Returns (lonDeg, latDeg). */
  def utmInverse(easting: Double, northing: Double, epsg: Int): (Double, Double) = {
    val zone = epsg % 100
    val south = epsg / 100 == 327
    val lon0 = math.toRadians(zone * 6.0 - 183.0)
    val xi = (northing - (if (south) 10000000.0 else 0.0)) / (K0 * AA)
    val eta = (easting - FE) / (K0 * AA)
    var xiP = xi; var etaP = eta
    var j = 0
    while (j < 4) {
      xiP -= Beta(j) * math.sin(2 * (j + 1) * xi) * math.cosh(2 * (j + 1) * eta)
      etaP -= Beta(j) * math.cos(2 * (j + 1) * xi) * math.sinh(2 * (j + 1) * eta)
      j += 1
    }
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
    // fixed-point iteration on the conformal-latitude relation
    var lat = chi
    var i = 0
    while (i < 12) {
      val s = math.sin(lat)
      val tC = math.sinh(atanh(s) - 2 * math.sqrt(N1) / (1 + N1) *
        atanh(2 * math.sqrt(N1) / (1 + N1) * s))
      val chiC = math.atan(tC) // conformal latitude of current guess
      lat += (chi - chiC)
      i += 1
    }
    val lon = lon0 + math.atan2(math.sinh(etaP), math.cos(xiP))
    (normLon(math.toDegrees(lon)), math.toDegrees(lat))
  }

  /** Transform a lon/lat to a whitelisted projected CRS. */
  def forward(lon: Double, lat: Double, epsg: Int): (Double, Double) = epsg match {
    case 3413 => psForward(lon, lat, north = true)
    case 3031 => psForward(lon, lat, north = false)
    case e if e >= 32601 && e <= 32660 => utmForward(lon, lat, e)
    case e if e >= 32701 && e <= 32760 => utmForward(lon, lat, e)
    case 4326 => (lon, lat)
    case other => throw new IllegalArgumentException(s"EPSG $other not in whitelist (lib/dem.py:35-47)")
  }

  def inverse(x: Double, y: Double, epsg: Int): (Double, Double) = epsg match {
    case 3413 => psInverse(x, y, north = true)
    case 3031 => psInverse(x, y, north = false)
    case e if e >= 32601 && e <= 32660 => utmInverse(x, y, e)
    case e if e >= 32701 && e <= 32760 => utmInverse(x, y, e)
    case 4326 => (x, y)
    case other => throw new IllegalArgumentException(s"EPSG $other not in whitelist")
  }

  private def atanh(v: Double): Double = 0.5 * math.log((1 + v) / (1 - v))

  def normLon(lon: Double): Double =
    if (lon > 180.0) lon - 360.0 else if (lon < -180.0) lon + 360.0 else lon
}
