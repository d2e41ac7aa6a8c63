package perfbench

import graft.cube.{Cube, CubeMeta, GridRef}
import graft.ops.{Scan, Sinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthetic Sentinel-2-like collection for the openEO serve workload:
  * bands B02/B03/B04/B08 on a 10 m UTM-32N grid near Bolzano, one scene
  * every 5 days from 2022-05-02. Every pixel value has a closed form
  * ([[value]]) whose phases come from the seed, so output checks can
  * recompute any result in plain Scala. */
final class S2Gen(seed: Long) {
  val Bands: Seq[String] = Seq("B02", "B03", "B04", "B08")
  val N = 64             // pixels per side
  val T = 10             // scenes
  val D = 10.0           // metres per pixel
  val X0 = 677005.0      // centre of pixel column 0 (EPSG:32632)
  val Y0 = 5148005.0     // centre of pixel row 0
  val Epoch0: java.time.LocalDate = java.time.LocalDate.parse("2022-05-02")

  private val rnd = new scala.util.Random(seed)
  private val base = Seq(0.04, 0.06, 0.05, 0.35)
  private val amp = Seq(0.02, 0.03, 0.03, 0.12)
  private val fi = Seq.fill(4)(0.02 + 0.08 * rnd.nextDouble())
  private val fj = Seq.fill(4)(0.02 + 0.08 * rnd.nextDouble())
  private val ft = Seq.fill(4)(0.1 + 0.5 * rnd.nextDouble())
  private val ph = Seq.fill(4)(2 * math.Pi * rnd.nextDouble())

  def date(t: Int): java.time.LocalDate = Epoch0.plusDays(5L * t)
  def x(i: Int): Double = X0 + D * i
  def y(j: Int): Double = Y0 + D * j

  /** Stored value of band `b` (index into [[Bands]]), scene t, pixel (i, j). */
  def value(b: Int, t: Int, i: Int, j: Int): Float =
    (base(b) + amp(b) * math.sin(fi(b) * i + fj(b) * j + ft(b) * t + ph(b))).toFloat

  def rows: Long = T.toLong * Bands.size * N * N

  /** Write the collection as a date-partitioned cube store, one file per
    * scene (the store is small; more files would only add tasks). */
  def write(spark: SparkSession, path: String): Scan.CollectionSpec = {
    val nb = Bands.size
    def pick(xs: Seq[Double], b: org.apache.spark.sql.Column) =
      element_at(array(xs.map(lit): _*), b + 1)
    val id = col("id")
    val t = (id / (nb * N * N)).cast("int")
    val b = ((id / (N * N)) % nb).cast("int")
    val j = ((id / N) % N).cast("int")
    val i = (id % N).cast("int")
    val df = spark.range(rows).select(
      to_timestamp(date_add(lit(Epoch0.toString).cast("date"), t * 5)).as("time"),
      element_at(array(Bands.map(lit): _*), b + 1).as("band"),
      (lit(Y0) + j * D).as("y"),
      (lit(X0) + i * D).as("x"),
      (pick(base, b) + pick(amp, b) * sin(pick(fi, b) * i + pick(fj, b) * j +
        pick(ft, b) * t + pick(ph, b))).cast("float").as("value"))
    val grid = GridRef(X0, Y0, D, D)
    Sinks.writeCubeStore(Cube(df, CubeMeta(crs = Some("EPSG:32632"),
      bandOrder = Bands, grid = Some(grid))), path, filesPerDir = 1)
    Scan.CollectionSpec(path, crs = Some("EPSG:32632"), bandOrder = Bands,
      grid = Some(grid))
  }
}

/** Inverse UTM (zone 32 north, WGS84) after Krüger's series as given by
  * Karney (2011), to third order: sub-millimetre near Bolzano. Used only
  * to send polygon vertices in lon/lat, as openEO clients do. */
object Utm32 {
  private val a = 6378137.0
  private val f = 1 / 298.257223563
  private val n = f / (2 - f)
  private val bigA = a / (1 + n) * (1 + n * n / 4 + math.pow(n, 4) / 64)
  private val beta = Seq(n / 2 - 2 * n * n / 3 + 37 * n * n * n / 96,
    n * n / 48 + n * n * n / 15, 17 * n * n * n / 480)
  private val delta = Seq(2 * n - 2 * n * n / 3 - 2 * n * n * n,
    7 * n * n / 3 - 8 * n * n * n / 5, 56 * n * n * n / 15)
  private val k0 = 0.9996

  /** (lon, lat) in degrees of UTM-32N easting/northing in metres. */
  def toLonLat(e: Double, nn: Double): (Double, Double) = {
    val xi = nn / (k0 * bigA)
    val eta = (e - 500000.0) / (k0 * bigA)
    var xi1 = xi; var eta1 = eta
    for (j <- 1 to 3) {
      xi1 -= beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
      eta1 -= beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
    }
    val chi = math.asin(math.sin(xi1) / math.cosh(eta1))
    val phi = chi + (1 to 3).map(j => delta(j - 1) * math.sin(2 * j * chi)).sum
    val lam = math.atan2(math.sinh(eta1), math.cos(xi1))
    (9.0 + math.toDegrees(lam), math.toDegrees(phi))
  }
}
