package graft.ops

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `load_collection` — the scan (SURVEY.md §2.1 S1-S3).
  *
  * The reference builds an ODC query (bands → measurements, temporal extent
  * with a -1 ms exclusive end, bbox) and lazily loads a Dask cube
  * (load_odc_collection.py:81-173), then folds per-band scale/offset/nodata
  * (107-126) and an optional polygon mask (190-226). Here a collection is a
  * long-form parquet store; every filter below lands in the parquet scan as
  * PushedFilters / partition pruning, and scale/offset/nodata are scan-level
  * projections — Catalyst fuses them into the read stage.
  *
  * The schema comes from [[Tables.read]], the way the reference takes it
  * from the ODC index it already holds: a collection's schema is
  * inferred on its first load (one Spark job over the footers) and read
  * from the registry afterwards, until the store's listing changes. A
  * load therefore starts no Spark job of its own.
  *
  * 100 TB layout contract: collections are written partitioned by date
  * (and optionally by spatial tile), sorted within files by (band, y, x) so
  * min/max row-group stats make x/y range predicates effective.
  */
object Scan {

  final case class BandAdjust(nodata: Option[Double] = None,
      scale: Double = 1.0, offset: Double = 0.0)

  final case class CollectionSpec(
      path: String,
      crs: Option[String] = None,
      bandOrder: Seq[String] = Nil,
      grid: Option[GridRef] = None,
      adjust: Map[String, BandAdjust] = Map.empty)

  /** Is `path` a store [[Sinks.writeCubeStore]] wrote (marker present)? */
  private def isGraftDateStore(spark: SparkSession, path: String): Boolean =
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(path, Sinks.MarkerFile))
    } catch { case _: Exception => false }

  /** Tile layout recorded in a [[Sinks.writeCubeStore]] marker:
    * (tileCells, x0, y0, dx, dy) — present only for spatially tiled
    * stores. Any parse failure means "don't prune" (safe superset). */
  private def tileLayout(spark: SparkSession,
      path: String): Option[(Int, Double, Double, Double, Double)] =
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(path, Sinks.MarkerFile)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
        val kv = body.trim.split(";").flatMap(_.split("=") match {
          case Array(k, v) => Some(k -> v); case _ => None
        }).toMap
        for {
          t <- kv.get("tile").flatMap(_.toIntOption)
          x0 <- kv.get("x0").flatMap(_.toDoubleOption)
          y0 <- kv.get("y0").flatMap(_.toDoubleOption)
          dx <- kv.get("dx").flatMap(_.toDoubleOption)
          dy <- kv.get("dy").flatMap(_.toDoubleOption)
        } yield (t, x0, y0, dx, dy)
      }
    } catch { case _: Exception => None }

  def loadCollection(spark: SparkSession, spec: CollectionSpec,
      bands: Seq[String] = Nil,
      temporalExtent: Option[(String, String)] = None,
      bbox: Option[(Double, Double, Double, Double)] = None, // w, s, e, n
      bboxEpsg: Int = 4326,
      polygon: Option[Seq[Geo.Ring]] = None,
      polygonEpsg: Int = 4326,
      // general CRS reference for the spatial extent (proj-string capable);
      // overrides bboxEpsg/polygonEpsg when set
      extentCrs: Option[CrsRef] = None): Cube = {
    var df = Tables.read(spark, spec.path)
    val meta = CubeMeta(crs = spec.crs, grid = spec.grid,
      bandOrder = if (bands.nonEmpty) bands else spec.bandOrder)
    // one marker probe per load: gates BOTH pruning and the reserved-
    // column drops below — a foreign collection that happens to carry
    // p_date/p_tx/p_ty as user data must keep them in the cube schema
    lazy val graftStore = isGraftDateStore(spark, spec.path)
    lazy val graftTileLayout = tileLayout(spark, spec.path)
    // band projection (pushed as In filter)
    if (bands.nonEmpty) df = df.where(col(Dim.Band).isin(bands: _*))
    // temporal extent: [start, end) via -1 ms like the reference scan
    temporalExtent.foreach { case (t0, t1) =>
      val from = Filters.parseTime(t0)
      val to = new java.sql.Timestamp(Filters.parseTime(t1).getTime - 1)
      df = df.where(col(Dim.Time) >= lit(from) && col(Dim.Time) <= lit(to))
      // date-partitioned store (Sinks.writeCubeStore): mirror the extent
      // onto the partition column so Catalyst PRUNES day directories —
      // predicates on the time column alone cannot, since partition
      // pruning needs the partition column itself. Guards: (a) only for
      // stores carrying the writeCubeStore marker — an external
      // collection's own p_date column (e.g. an ingest date) must not be
      // row-filtered by event-time; (b) bounds widened by one day on each
      // side so a reader session timezone differing from the writer's
      // cannot misalign the date boundary and silently drop rows (the
      // exact time predicate above stays authoritative — pruning only
      // needs to be a superset).
      if (df.columns.contains("p_date") && graftStore)
        df = df.where(col("p_date").between(
          date_sub(to_date(lit(from)), 1), date_add(to_date(lit(to)), 1)))
    }
    // SPATIAL partition pruning for tiled stores: map the bbox (already
    // projectable into cube coordinates — the same driver-side corner
    // transform the exact row filter uses) onto the marker's write-time
    // tile mapping, widened by one tile per side so grid rounding can
    // never drop rows; the exact x/y predicate below stays authoritative
    // (pruning only needs to be a superset). Non-tiled stores, foreign
    // p_tx columns (no marker), or unparseable markers skip pruning.
    if (df.columns.contains("p_tx") && df.columns.contains("p_ty") &&
        graftStore) {
      bbox.foreach { case (w, s, e, n) =>
        graftTileLayout.foreach { case (tc, x0, y0, dx, dy) =>
          val (xmin, ymin, xmax, ymax) = Filters.projectBboxToCube(
            spec.crs, w, s, e, n, extentCrs.getOrElse(EpsgRef(bboxEpsg)))
          def tx(x: Double): Long =
            math.floor(math.round((x - x0) / dx).toDouble / tc).toLong
          def ty(y: Double): Long =
            math.floor(math.round((y - y0) / dy).toDouble / tc).toLong
          val (txA, txB) = (math.min(tx(xmin), tx(xmax)),
            math.max(tx(xmin), tx(xmax)))
          val (tyA, tyB) = (math.min(ty(ymin), ty(ymax)),
            math.max(ty(ymin), ty(ymax)))
          df = df.where(col("p_tx").between(txA - 1, txB + 1) &&
            col("p_ty").between(tyA - 1, tyB + 1))
        }
      }
      df = df.drop("p_tx", "p_ty")
    }
    // the partition column duplicates time — drop it from the cube schema
    // (only for our own stores: a foreign p_date is user data)
    if (df.columns.contains("p_date") && graftStore) df = df.drop("p_date")
    var cube = Cube(df, meta)
    bbox.foreach { case (w, s, e, n) =>
      cube = Filters.filterBboxRef(cube, w, s, e, n,
        extentCrs.getOrElse(EpsgRef(bboxEpsg)))
    }
    polygon.foreach { rings =>
      // bbox pre-filter + exact point-in-polygon, like rasterize+mask
      cube = Filters.filterSpatialRef(cube, rings,
        extentCrs.getOrElse(EpsgRef(polygonEpsg)))
    }
    // per-band nodata→null, then value*scale+offset (scan-level projection)
    if (spec.adjust.nonEmpty) {
      val v = col(Cube.ValueCol)
      val adjusted = spec.adjust.foldLeft(v) { case (acc, (band, a)) =>
        val base = a.nodata.map(nd =>
          when(v === nd, lit(null)).otherwise(v)).getOrElse(v)
        when(col(Dim.Band) === band, base * a.scale + a.offset).otherwise(acc)
      }
      cube = cube.withDF(cube.df.withColumn(Cube.ValueCol, adjusted))
    }
    cube
  }

  /** `load_result` — previous job outputs are persisted as parquet cubes
    * (openeo_odc_driver.py:1598-1609 reloads NetCDF). */
  def loadResult(spark: SparkSession, resultDir: String, jobId: String): Cube =
    Cube(Tables.read(spark, s"$resultDir/$jobId"))

  /** `load_result` from a NetCDF-3 classic (CDF-1) file — the read half
    * of [[Sinks.writeNetcdf]]'s write half, closing the reference's
    * job-chaining loop (openeo_odc_driver.py:1598-1609 reloads the
    * previous job's NetCDF with xarray). This is a full little parser of
    * the public CDF-1 spec (magic, dim list, attribute lists, var list
    * with fixed begin offsets), not a replay of our writer's field
    * order, so it also accepts third-party classic files with the same
    * (time?, band?, y, x) variable layout.
    *
    * Scale note: a NetCDF file is the CLIENT-FACING rendition of a cube
    * (it already passed through one driver-side collect at write time);
    * parquet stays the canonical distributed form. The parse happens
    * once on the driver and the resulting rows (NaN fill cells dropped —
    * NaN is the writer's fill value) re-enter the cluster via
    * `createDataFrame`, so nothing here ever holds more than the file's
    * own dense grid. */
  def loadResultNetcdf(spark: SparkSession, path: String): Cube = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val m = graft.sources.Netcdf.readMeta(path, bytes)
    val times = m.times; val bands = m.bands
    val ys = m.ys; val xs = m.xs
    m.requireFloatPlane()
    // absolute ByteBuffer indices ignore a wrap() offset — index from the
    // file start instead
    val vb = java.nio.ByteBuffer.wrap(bytes)
    // MICROSECOND label precision, same rounding as the V2 source's
    // Meta.timeMicros — the two read paths must agree row-for-row even
    // on third-party files with sub-millisecond time coordinates
    def tsOf(t: Int): java.sql.Timestamp = {
      val micros = m.timeMicros(t)
      val stamp = new java.sql.Timestamp(
        Math.floorDiv(micros, 1000000L) * 1000)
      stamp.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
      stamp
    }
    val rows = for {
      t <- 0 until m.nT; band <- 0 until m.nB
      y <- ys.indices; x <- xs.indices
      // .toInt safe here: this driver-side path wrapped the whole file
      // in one Array[Byte], which is itself Int-bounded
      v = vb.getFloat(m.cellOffset(t, band, y, x).toInt)
      if !v.isNaN // the writer's fill value for absent cells
    } yield org.apache.spark.sql.Row.fromSeq(
      times.map(_ => tsOf(t)).toSeq ++
        bands.map(_(band)).toSeq ++ Seq[Any](ys(y), xs(x), v))
    val schema = org.apache.spark.sql.types.StructType(
      times.map(_ => org.apache.spark.sql.types.StructField(Dim.Time,
        org.apache.spark.sql.types.TimestampType)).toSeq ++
      bands.map(_ => org.apache.spark.sql.types.StructField(Dim.Band,
        org.apache.spark.sql.types.StringType)).toSeq ++ Seq(
      org.apache.spark.sql.types.StructField(Dim.Y,
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(Dim.X,
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(Cube.ValueCol,
        org.apache.spark.sql.types.FloatType)))
    Cube(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 10000)),
      schema),
      CubeMeta(bandOrder = bands.map(_.toSeq).getOrElse(Nil)))
  }
}
