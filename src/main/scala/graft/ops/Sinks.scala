package graft.ops

import com.fasterxml.jackson.databind.JsonNode
import graft.cube.{Cube, Dim}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.awt.image.BufferedImage
import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO

/** `save_result` sinks (SURVEY.md §2.1 S5-S8).
  *
  * The canonical persisted form is parquet (distributed write — the 100 TB
  * path); PNG/GeoTIFF/JSON/NetCDF are presentation renditions of an
  * already-reduced raster, so they collect to the driver exactly like the
  * reference materializes the Dask cube before imageio/rasterio/xarray
  * writes (openeo_odc_driver.py:1616-1827); a NETCDF save writes its
  * parquet result from those same collected rows. A 4-D cube to GTiff
  * raises like the reference (openeo_odc_driver.py:1703).
  */
object Sinks {

  /** Write a cube as a DATE-PARTITIONED parquet store — the 100 TB ingest
    * layout: one `p_date=YYYY-MM-DD/` directory per day, so a temporal
    * filter at load time becomes partition PRUNING (directories never
    * listed) on top of row-group skipping. [[Scan.loadCollection]]
    * recognises the `p_date` column and derives the partition predicate
    * from the temporal extent automatically. */
  def writeCubeStore(c: Cube, path: String,
      tileCells: Option[Int] = None,
      filesPerDir: Int = -1): String = {
    require(c.has(Dim.Time),
      "writeCubeStore requires a time dimension (p_date derives from it)")
    // resolution order: explicit argument > session conf > layout default.
    // The layout default is ADAPTIVE: a date-only store has one directory
    // per day — partition cardinality < cores is the norm, so a nightly
    // single-day ingest would serialize onto one writer without the salt.
    // A TILED store multiplies cardinality by its tile grid (hundreds of
    // directories per day), so write parallelism is already there and the
    // salt would only multiply file count (measured: +20% scan cost at
    // gate scale for zero parallelism gain) — default 1, raise via the
    // knob for a store with few tiles.
    require(filesPerDir == -1 || filesPerDir > 0,
      s"filesPerDir must be positive (or -1 = unset), got $filesPerDir")
    val layoutDefault = if (tileCells.isDefined) 1 else DefaultFilesPerDir
    val fpd =
      if (filesPerDir > 0) filesPerDir
      else c.df.sparkSession.conf
        .get("spark.graft.store.filesPerDir", layoutDefault.toString)
        .toInt
    require(fpd > 0, s"filesPerDir must be positive, got $fpd")
    val base = c.df.withColumn("p_date", to_date(col(Dim.Time)))
    // optional SPATIAL tiling (the 100 TB layout contract's second axis):
    // p_tx/p_ty = tileCells-cell tiles in grid units, so a bbox scan
    // prunes whole tile directories the way the temporal extent prunes
    // days. The marker records the write-time grid + tile size — the
    // scan only prunes when it can re-derive the SAME mapping.
    val (partitioned, partCols, markerBody) = tileCells match {
      case Some(tc) =>
        require(tc > 0, s"tileCells must be positive, got $tc")
        val g = c.meta.requireGrid
        (base
          .withColumn("p_tx",
            floor(g.xIdx(col(Dim.X)).cast("double") / tc).cast("long"))
          .withColumn("p_ty",
            floor(g.yIdx(col(Dim.Y)).cast("double") / tc).cast("long")),
          Seq("p_date", "p_tx", "p_ty"),
          s"tile=$tc;x0=${g.x0};y0=${g.y0};dx=${g.dx};dy=${g.dy}")
      case None => (base, Seq("p_date"), "")
    }
    // cluster the write by the partition keys PLUS a bounded intra-
    // directory salt: clustering alone caps small files (tasks × dirs —
    // the classic dynamic-partition-write mistake) but serializes each
    // directory onto ONE task, so a nightly single-day 100 TB ingest
    // would become one writer. The salt spreads each directory across a
    // fixed small number of tasks (`filesPerDir`), keeping both
    // properties: ≤ filesPerDir files per directory, ≥ ~filesPerDir
    // writer tasks even when partition cardinality < cores.
    val salt = pmod(hash(col(Dim.Y), col(Dim.X)), lit(fpd))
    partitioned.repartition((partCols.map(col) :+ salt): _*)
      .write.mode("overwrite")
      .partitionBy(partCols: _*).parquet(path)
    // marker telling Scan.loadCollection that p_date really is
    // to_date(time) here — an external collection with its own p_date
    // column (e.g. an ingest date) must NOT be pruned by event-time
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), c.df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, MarkerFile), true)
    try out.write(markerBody.getBytes("UTF-8")) finally out.close()
    path
  }

  /** Writer tasks (and so parquet files) per partition directory for
    * DATE-ONLY stores. 4 keeps directories small-file-free while a
    * low-cardinality write (one day) still fans out; raise for a
    * dedicated nightly ingest where dirs×filesPerDir should cover the
    * cluster's cores. Tiled stores default to 1 — their tile grid
    * already provides directory cardinality ≫ cores. */
  val DefaultFilesPerDir = 4

  /** Marker written by [[writeCubeStore]]; checked by Scan before pruning.
    * Empty body = date-only store; `tile=N;x0=..;y0=..;dx=..;dy=..` body
    * = spatially tiled with that write-time grid. */
  val MarkerFile = "_GRAFT_DATE_PARTITIONED"

  def saveResult(value: Any, format: String, outDir: String,
      options: Option[JsonNode] = None): String = {
    new java.io.File(outDir).mkdirs()
    val fmt = format.toUpperCase
    value match {
      case c: Cube => fmt match {
        case "PNG"    => writePng(c, s"$outDir/result.png", options)
        case "GTIFF"  => writeGTiff(c, s"$outDir/result.tif")
        case "JSON"   => writeJsonCube(c, s"$outDir/result.json")
        case "NETCDF" | "PARQUET" =>
          // optional dtype cast like the reference's options.dtype
          // (openeo_odc_driver.py:1731-1732)
          val dtype = options.flatMap(o => Option(o.get("dtype"))).map(_.asText)
          val df = dtype.map(t =>
            c.df.withColumn(Cube.ValueCol, col(Cube.ValueCol).cast(t)))
            .getOrElse(c.df)
          val parquet = s"$outDir/result.parquet"
          if (fmt == "PARQUET")  // canonical distributed sink
            df.write.mode("overwrite").parquet(parquet)
          else {
            // NETCDF executes the plan ONCE: collect to the driver, as
            // the reference's to_netcdf materializes the cube
            // (openeo_odc_driver.py:1726-1781), then derive both
            // renditions from those rows. The parquet result is written
            // from a local relation with the same schema, so it holds the
            // same (dtype-cast) values without running the plan again.
            // Empty cubes skip the .nc: classic NetCDF cannot express a
            // 0-length fixed dimension, and the parquet result exists.
            val rows = df.collect()
            df.sparkSession.createDataFrame(
              java.util.Arrays.asList(rows: _*), df.schema)
              .write.mode("overwrite").parquet(parquet)
            if (rows.nonEmpty)
              renderNetcdf(c.withDF(df), rows, s"$outDir/result.nc")
          }
          parquet
        case other => throw new IllegalArgumentException(s"format: $other")
      }
      case ds: org.apache.spark.sql.Dataset[_] =>  // zonal stats / fit params
        val df = ds.toDF()
        fmt match {
          case "JSON" => writeJson(df, s"$outDir/result.json")
          case _ =>
            df.write.mode("overwrite").parquet(s"$outDir/result.parquet")
            s"$outDir/result.parquet"
        }
      case scalar =>  // 0-D result
        val p = s"$outDir/result.json"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          String.valueOf(scalar))
        p
    }
  }

  /** Write the cube as a NetCDF-3 **classic** (CDF-1) file — the public
    * binary format every NetCDF reader (xarray/scipy/netCDF4/ncdump)
    * accepts. The reference's general 4-D sink is xarray `to_netcdf`
    * (openeo_odc_driver.py:1726-1781); parquet remains OUR canonical
    * distributed form, this is the client-facing rendition.
    *
    * Layout: dims in (time, band, y, x) order as present; coordinate
    * variables `time` (double, seconds since epoch), `band` (char matrix
    * over a `band_strlen` dim), `y`/`x` (double, y DESCENDING north-up
    * like the GTiff path); data variable `value` (float, NaN fill,
    * `_FillValue` attribute). All integers big-endian, every section
    * padded to 4 bytes, per the public CDF-1 spec. An independent
    * pure-Python parser (`tools/nc3check.py`) cross-validates the writer
    * against a second implementation of the spec. */
  def writeNetcdf(c: Cube, path: String): String =
    renderNetcdf(c, c.df.collect(), path)

  /** Render already-collected `rows` of `c` (its schema and metadata
    * only; the plan is not run) as the NetCDF file [[writeNetcdf]]
    * describes. */
  private def renderNetcdf(c: Cube, rows: Array[Row], path: String): String = {
    val hasTime = c.has(Dim.Time); val hasBand = c.has(Dim.Band)
    val times: Seq[java.sql.Timestamp] =
      if (hasTime) rows.map(_.getAs[java.sql.Timestamp](Dim.Time))
        .distinct.sortBy(_.getTime).toSeq
      else Nil
    val bands: Seq[String] =
      if (!hasBand) Nil
      else if (c.meta.bandOrder.nonEmpty) c.meta.bandOrder
      else rows.map(_.getAs[String](Dim.Band)).distinct.sorted.toSeq
    val ys = rows.map(_.getAs[Double](Dim.Y)).distinct.sorted.reverse.toSeq
    val xs = rows.map(_.getAs[Double](Dim.X)).distinct.sorted.toSeq
    require(rows.nonEmpty, "writeNetcdf needs a non-empty cube")
    val ti = times.zipWithIndex.toMap; val bi = bands.zipWithIndex.toMap
    val yi = ys.zipWithIndex.toMap; val xi = xs.zipWithIndex.toMap
    val nT = if (hasTime) times.length else 1
    val nB = math.max(bands.length, 1)
    val data = Array.fill(nT * nB * ys.length * xs.length)(Float.NaN)
    def flat(t: Int, b: Int, y: Int, x: Int): Int =
      ((t * nB + b) * ys.length + y) * xs.length + x
    rows.foreach { r =>
      val t = if (hasTime) ti(r.getAs[java.sql.Timestamp](Dim.Time)) else 0
      val b = if (hasBand) bi(r.getAs[String](Dim.Band)) else 0
      val v = r.getAs[Any](Cube.ValueCol) match {
        case f: Float => f; case d: Double => d.toFloat
        case i: Int => i.toFloat; case l: Long => l.toFloat
        case b1: Boolean => if (b1) 1f else 0f
        case null => Float.NaN
      }
      data(flat(t, b, yi(r.getAs[Double](Dim.Y)), xi(r.getAs[Double](Dim.X)))) = v
    }

    // ---- CDF-1 serialization ------------------------------------------
    val NcDimension = 0x0A; val NcVariable = 0x0B; val NcAttribute = 0x0C
    val NcChar = 2; val NcFloat = 5; val NcDouble = 6
    final case class NcDim(name: String, len: Int)
    final case class NcVar(name: String, dimIds: Seq[Int], ncType: Int,
      atts: Seq[(String, Either[String, Array[Float]])], dataLen: Int)

    // size char data in UTF-8 BYTES (what gets written), not Java chars —
    // a non-ASCII band name would otherwise overrun its declared vsize
    val bandStrlen =
      if (hasBand) math.max(bands.map(_.getBytes("UTF-8").length).max, 1)
      else 0
    val dims = scala.collection.mutable.ArrayBuffer.empty[NcDim]
    def addDim(d: NcDim): Int = { dims += d; dims.length - 1 }
    val tDim = if (hasTime) addDim(NcDim("time", times.length)) else -1
    val bDim = if (hasBand) addDim(NcDim("band", bands.length)) else -1
    val sDim = if (hasBand) addDim(NcDim("band_strlen", bandStrlen)) else -1
    val yDim = addDim(NcDim("y", ys.length))
    val xDim = addDim(NcDim("x", xs.length))

    def pad4(n: Int): Int = (n + 3) & ~3
    val vars = scala.collection.mutable.ArrayBuffer.empty[NcVar]
    if (hasTime) vars += NcVar("time", Seq(tDim), NcDouble,
      Seq("units" -> Left("seconds since 1970-01-01 00:00:00")), times.length * 8)
    if (hasBand) vars += NcVar("band", Seq(bDim, sDim), NcChar, Nil,
      bands.length * bandStrlen)
    vars += NcVar("y", Seq(yDim), NcDouble, Nil, ys.length * 8)
    vars += NcVar("x", Seq(xDim), NcDouble, Nil, xs.length * 8)
    val valueDims = (if (hasTime) Seq(tDim) else Nil) ++
      (if (hasBand) Seq(bDim) else Nil) ++ Seq(yDim, xDim)
    vars += NcVar("value", valueDims, NcFloat,
      Seq("_FillValue" -> Right(Array(Float.NaN))), data.length * 4)

    val globalAtts: Seq[(String, Either[String, Array[Float]])] =
      c.meta.crs.map(crs => "crs" -> (Left(crs): Either[String, Array[Float]])).toSeq

    def serialize(begins: Map[String, Int]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new DataOutputStream(bos) // DataOutputStream is big-endian
      def pad(n: Int): Unit = (0 until (pad4(n) - n)).foreach(_ => o.writeByte(0))
      def str(s: String): Unit = {
        val b = s.getBytes("UTF-8"); o.writeInt(b.length); o.write(b); pad(b.length)
      }
      def atts(as: Seq[(String, Either[String, Array[Float]])]): Unit =
        if (as.isEmpty) { o.writeInt(0); o.writeInt(0) }
        else {
          o.writeInt(NcAttribute); o.writeInt(as.length)
          as.foreach {
            case (n, Left(sv)) =>
              str(n); o.writeInt(NcChar)
              val b = sv.getBytes("UTF-8")
              o.writeInt(b.length); o.write(b); pad(b.length)
            case (n, Right(fs)) =>
              str(n); o.writeInt(NcFloat); o.writeInt(fs.length)
              fs.foreach(o.writeFloat); pad(fs.length * 4)
          }
        }
      o.writeBytes("CDF"); o.writeByte(1) // magic, CDF-1
      o.writeInt(0)                       // numrecs (no record dimension)
      o.writeInt(NcDimension); o.writeInt(dims.length)
      dims.foreach { d => str(d.name); o.writeInt(d.len) }
      atts(globalAtts)
      o.writeInt(NcVariable); o.writeInt(vars.length)
      vars.foreach { v =>
        str(v.name); o.writeInt(v.dimIds.length); v.dimIds.foreach(o.writeInt)
        atts(v.atts); o.writeInt(v.ncType); o.writeInt(pad4(v.dataLen))
        o.writeInt(begins.getOrElse(v.name, 0))
      }
      o.flush(); bos.toByteArray
    }

    // begin offsets are 4-byte ints in CDF-1, so the header length is the
    // same with placeholder zeros — serialize once to size it, then again
    // with the real offsets
    val headerLen = serialize(Map.empty).length
    var off = headerLen
    val begins = vars.map { v =>
      val b = v.name -> off; off += pad4(v.dataLen); b
    }.toMap
    // ATOMIC publish: write a temp sibling, then move into place — a
    // watcher (the graft-netcdf STREAMING source lists the directory
    // between micro-batches) must never observe a half-written file,
    // which it would consume truncated and mark seen forever
    val tmpPath = java.nio.file.Paths.get(path + ".tmp~")
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(tmpPath.toFile)))
    try {
      out.write(serialize(begins))
      def padTo(n: Int): Unit = (0 until (pad4(n) - n)).foreach(_ => out.writeByte(0))
      vars.foreach { v =>
        v.name match {
          case "time" => times.foreach(t => out.writeDouble(t.getTime / 1000.0))
          case "band" =>
            bands.foreach { b =>
              val bytes = b.getBytes("UTF-8")
              out.write(bytes)
              (bytes.length until bandStrlen).foreach(_ => out.writeByte(0))
            }
          case "y" => ys.foreach(out.writeDouble)
          case "x" => xs.foreach(out.writeDouble)
          case "value" => data.foreach(out.writeFloat)
        }
        padTo(v.dataLen)
      }
    } finally out.close()
    java.nio.file.Files.move(tmpPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    path
  }

  /** Collect a (time-less) raster into a dense row-major grid.
    * Returns (grid(y)(x) per band, xs ascending, ys DESCENDING — north-up
    * image order, the reference's y-flip at 1623-1627). */
  def collectRaster(c: Cube, bands: Seq[String]): (Map[String, Array[Array[Double]]], Seq[Double], Seq[Double]) = {
    require(!c.has(Dim.Time),
      "raster sinks need a time-reduced cube (reference raises on 3-D+ PNG)")
    val hasBand = c.has(Dim.Band)
    val rows = c.df.collect()
    val xs = rows.map(_.getAs[Double](Dim.X)).distinct.sorted.toSeq
    val ys = rows.map(_.getAs[Double](Dim.Y)).distinct.sorted.reverse.toSeq
    val xi = xs.zipWithIndex.toMap; val yi = ys.zipWithIndex.toMap
    val wanted = if (bands.nonEmpty) bands
      else if (hasBand) c.meta.bandOrder match {
        case Nil => rows.map(_.getAs[String](Dim.Band)).distinct.toSeq
        case bo  => bo
      }
      else Seq("value")
    val grids = wanted.map(_ -> Array.fill(ys.length, xs.length)(Double.NaN)).toMap
    rows.foreach { r =>
      val b = if (hasBand) r.getAs[String](Dim.Band) else "value"
      grids.get(b).foreach { g =>
        val v = r.getAs[Any](Cube.ValueCol) match {
          case null => Double.NaN
          case d: Double => d; case f: Float => f.toDouble
          case n: Number => n.doubleValue()
        }
        g(yi(r.getAs[Double](Dim.Y)))(xi(r.getAs[Double](Dim.X))) = v
      }
    }
    (grids, xs, ys)
  }

  /** 8-bit PNG with optional RGB(A)/gray band selection and longest-edge
    * `size` resize (openeo_odc_driver.py:1616-1677). Values are linearly
    * stretched to 0-255 over the finite min/max like a default rendering. */
  def writePng(c: Cube, path: String, options: Option[JsonNode]): String = {
    def opt(k: String): Option[String] =
      options.flatMap(o => Option(o.get(k))).map(_.asText)
    val rgb = Seq("red", "green", "blue").flatMap(opt)
    val gray = opt("gray")
    val bands = if (rgb.length == 3) rgb else gray.toSeq
    val (grids, xs, ys) = collectRaster(c, bands)
    val names = if (bands.nonEmpty) bands else grids.keys.toSeq.take(3)
    val h = ys.length; val w = xs.length
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    def stretch(g: Array[Array[Double]]): Array[Array[Int]] = {
      val finite = g.flatten.filter(d => !d.isNaN && !d.isInfinite)
      val lo = if (finite.nonEmpty) finite.min else 0.0
      val hi = if (finite.nonEmpty) finite.max else 1.0
      val span = if (hi > lo) hi - lo else 1.0
      g.map(_.map(v =>
        if (v.isNaN) 0 else ((v - lo) / span * 255.0).round.toInt.max(0).min(255)))
    }
    val chans = names.map(n => stretch(grids(n)))
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = chans match {
        case Seq(c0) => (c0(y)(x), c0(y)(x), c0(y)(x))
        case Seq(c0, c1, c2) => (c0(y)(x), c1(y)(x), c2(y)(x))
        case _ => (0, 0, 0)
      }
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = opt("size").map(_.toInt).filter(_ > 0).map { target =>
      val scale = target.toDouble / math.max(w, h)
      val nw = math.max(1, (w * scale).round.toInt)
      val nh = math.max(1, (h * scale).round.toInt)
      val scaled = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
      val gr = scaled.createGraphics()
      gr.drawImage(img.getScaledInstance(nw, nh, java.awt.Image.SCALE_SMOOTH),
        0, 0, null)
      gr.dispose(); scaled
    }.getOrElse(img)
    ImageIO.write(out, "png", new java.io.File(path))
    path
  }

  /** Float32 GeoTIFF, single- or multi-band (band-sequential planes,
    * PlanarConfiguration=2, one strip per band) with ModelPixelScale/
    * ModelTiepoint georeferencing, GDAL nodata, and per-band min/max
    * statistics — the surface the reference emits through rasterio + GDAL
    * (openeo_odc_driver.py:1679-1724, stats + nodata at 1712-1724). */
  def writeGTiff(c: Cube, path: String): String = {
    val (grids, xs, ys) = collectRaster(c, Nil)
    val bandNames: Seq[String] =
      if (c.has(Dim.Band) && c.meta.bandOrder.nonEmpty)
        c.meta.bandOrder.filter(grids.contains)
      else grids.keys.toSeq.sorted
    val nB = bandNames.length
    require(nB >= 1, "GTiff sink needs at least one band")
    val h = ys.length; val w = xs.length
    val dx = if (xs.length > 1) xs(1) - xs.head else 1.0
    val dy = if (ys.length > 1) ys.head - ys(1) else 1.0
    // pixel-is-area: tiepoint at the outer corner of the top-left cell
    val originX = xs.head - dx / 2; val originY = ys.head + dy / 2
    val plane = w * h * 4
    val data = ByteBuffer.allocate(nB * plane).order(ByteOrder.LITTLE_ENDIAN)
    for (b <- bandNames; row <- grids(b); v <- row) data.putFloat(v.toFloat)

    // --- TIFF: header, band planes, IFD, out-of-line payloads ---
    val T_ASCII = 2; val T_SHORT = 3; val T_LONG = 4; val T_DOUBLE = 12
    def shorts(vs: Seq[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => b.putShort(v.toShort)); b.array()
    }
    def longs(vs: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => b.putInt(v.toInt)); b.array()
    }
    def doubles(vs: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putDouble); b.array()
    }
    def ascii(s: String): Array[Byte] = (s + "\u0000").getBytes("US-ASCII")
    case class Entry(tag: Int, typ: Int, count: Int, payload: Array[Byte])

    val dataOffset = 8L
    val ifdOffset = dataOffset + nB * plane
    val epsg = c.meta.crs.flatMap(Filters.crsEpsg).getOrElse(4326)
    val geoKeys = Seq(
      1, 1, 0, 3,
      1024, 0, 1, 1,      // GTModelType = projected(1)
      1025, 0, 1, 1,      // RasterPixelIsArea
      3072, 0, 1, epsg)   // ProjectedCSType
    // per-band statistics over finite values, like the reference's GDAL
    // stats step; nodata is NaN for float rasters
    val statsXml = {
      val items = bandNames.zipWithIndex.flatMap { case (b, i) =>
        val finite = grids(b).flatten.filter(v => !v.isNaN && !v.isInfinite)
        if (finite.isEmpty) Nil
        else Seq(
          s"""<Item name="STATISTICS_MINIMUM" sample="$i">${finite.min}</Item>""",
          s"""<Item name="STATISTICS_MAXIMUM" sample="$i">${finite.max}</Item>""",
          s"""<Item name="DESCRIPTION" sample="$i" role="description">$b</Item>""")
      }
      items.mkString("<GDALMetadata>\n", "\n", "\n</GDALMetadata>")
    }
    val stripOffsets = (0 until nB).map(i => dataOffset + i.toLong * plane)
    val entries = (Seq(
      Entry(256, T_SHORT, 1, shorts(Seq(w))),
      Entry(257, T_SHORT, 1, shorts(Seq(h))),
      Entry(258, T_SHORT, nB, shorts(Seq.fill(nB)(32))),
      Entry(259, T_SHORT, 1, shorts(Seq(1))),          // no compression
      Entry(262, T_SHORT, 1, shorts(Seq(1))),          // minIsBlack
      Entry(273, T_LONG, nB, longs(stripOffsets)),
      Entry(277, T_SHORT, 1, shorts(Seq(nB))),
      Entry(278, T_SHORT, 1, shorts(Seq(h))),
      Entry(279, T_LONG, nB, longs(Seq.fill(nB)(plane.toLong))),
      Entry(284, T_SHORT, 1, shorts(Seq(if (nB == 1) 1 else 2))), // planar
      Entry(339, T_SHORT, nB, shorts(Seq.fill(nB)(3))), // IEEE float
      Entry(33550, T_DOUBLE, 3, doubles(Seq(dx, dy, 0.0))),
      Entry(33922, T_DOUBLE, 6, doubles(Seq(0, 0, 0, originX, originY, 0))),
      Entry(34735, T_SHORT, geoKeys.length, shorts(geoKeys)),
      Entry(42112, T_ASCII, statsXml.length + 1, ascii(statsXml)),
      Entry(42113, T_ASCII, 4, ascii("nan"))           // GDAL nodata
    ) ++ (if (nB > 1)
      Seq(Entry(338, T_SHORT, nB - 1, shorts(Seq.fill(nB - 1)(0)))) // extra samples
    else Nil)).sortBy(_.tag)

    var extraOffset = ifdOffset + 2 + entries.length * 12 + 4
    val out = new DataOutputStream(new FileOutputStream(path))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Long): Unit = {
      var i = 0; while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    out.write('I'); out.write('I'); le16(42); le32(ifdOffset)
    out.write(data.array())
    le16(entries.length)
    val deferred = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    entries.foreach { e =>
      le16(e.tag); le16(e.typ); le32(e.count)
      if (e.payload.length <= 4) {
        out.write(e.payload)
        var pad = 4 - e.payload.length
        while (pad > 0) { out.write(0); pad -= 1 }
      } else {
        le32(extraOffset)
        deferred += e.payload
        extraOffset += e.payload.length
      }
    }
    le32(0) // next IFD
    deferred.foreach(out.write)
    out.close()
    path
  }

  /** Minimal TIFF reader — the verification half of [[writeGTiff]]:
    * parses a little-endian classic TIFF (header, one IFD, inline or
    * out-of-line tag payloads), requires uncompressed IEEE-float32
    * samples, and returns the band planes row-major top-down plus the
    * per-sample DESCRIPTION names from the GDAL metadata tag (band
    * index as string when absent). Handles both our layouts:
    * PlanarConfiguration=2 with one strip per band (multi-band) and
    * planar=1 single-strip (single-band). Driver-side by design — a
    * GeoTIFF, like the NetCDF rendition, is the client-facing artifact
    * of an already-collected raster. */
  def readGTiff(path: String): (Seq[String], Array[Array[Array[Float]]]) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 8 && bytes(0) == 'I' && bytes(1) == 'I' &&
      bb.getShort(2) == 42, s"$path: not a little-endian classic TIFF")
    val ifdOffset = bb.getInt(4)
    val nEntries = bb.getShort(ifdOffset) & 0xffff
    def typeSize(t: Int): Int = t match {
      case 1 | 2 => 1; case 3 => 2; case 4 => 4; case 12 => 8
      case o => throw new IllegalArgumentException(s"TIFF type $o")
    }
    val tags: Map[Int, (Int, Int, Array[Byte])] = (0 until nEntries).map { i =>
      val off = ifdOffset + 2 + i * 12
      val tag = bb.getShort(off) & 0xffff
      val typ = bb.getShort(off + 2) & 0xffff
      val count = bb.getInt(off + 4)
      val size = count * typeSize(typ)
      val payload =
        if (size <= 4) java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
        else {
          val p = bb.getInt(off + 8)
          java.util.Arrays.copyOfRange(bytes, p, p + size)
        }
      tag -> (typ, count, payload)
    }.toMap
    def ints(tag: Int): Seq[Int] = tags.get(tag).map { case (typ, count, p) =>
      val pb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      (0 until count).map(i => typ match {
        case 3 => pb.getShort(i * 2) & 0xffff
        case 4 => pb.getInt(i * 4)
        case o => throw new IllegalArgumentException(s"tag $tag type $o")
      })
    }.getOrElse(Nil)
    val w = ints(256).head; val h = ints(257).head
    val nB = ints(277).headOption.getOrElse(1)
    require(ints(339).forall(_ == 3) && ints(258).forall(_ == 32),
      s"$path: expected float32 samples")
    require(ints(259).forall(_ == 1), s"$path: expected no compression")
    val strips = ints(273)
    val planes = Array.tabulate(nB) { b =>
      // planar=2: strip b IS band b's plane; planar=1 single-band: one
      // interleaved strip (identical layout when nB == 1)
      val base = if (strips.length == nB) strips(b) else strips.head
      val pb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      Array.tabulate(h, w)((row, colI) =>
        pb.getFloat(base + (row * w + colI) * 4))
    }
    val names = tags.get(42112).map { case (_, _, p) =>
      val xml = new String(p, "US-ASCII")
      val re = """<Item name="DESCRIPTION" sample="(\d+)"[^>]*>([^<]*)</Item>""".r
      val found = re.findAllMatchIn(xml)
        .map(m => m.group(1).toInt -> m.group(2)).toMap
      (0 until nB).map(i => found.getOrElse(i, i.toString))
    }.getOrElse((0 until nB).map(_.toString))
    (names, planes)
  }

  /** Label-keyed JSON rendition mirroring the reference's dict layouts
    * (openeo_odc_driver.py:1783-1827): 0-D → {"band": [[v]]} or
    * {"0": [[v]]}; 1-D → {label: {band: [v]}} or {label: [[v]]};
    * >=2-D → an xarray-to_dict-shaped {dims, coords, data} object. */
  def writeJsonCube(c: Cube, path: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val hasBand = c.has(Dim.Band)
    val others = c.dims.filterNot(_ == Dim.Band) // label dims, cube order
    val rows = c.df.collect()
    def valueOf(r: Row): Double = r.getAs[Any](Cube.ValueCol) match {
      case null => Double.NaN
      case d: Double => d; case f: Float => f.toDouble
      case b: Boolean => if (b) 1.0 else 0.0
      case n: Number => n.doubleValue()
    }
    def labelOf(r: Row, dim: String): String = String.valueOf(r.getAs[Any](dim))
    def bandOf(r: Row): String =
      if (hasBand) r.getAs[String](Dim.Band) else "0"

    others.length match {
      case 0 =>
        // single cell per band (reference n_dims==0 branch)
        rows.foreach { r =>
          root.putArray(bandOf(r)).addArray().add(valueOf(r))
        }
      case 1 =>
        val dim = others.head
        val byLabel = rows.groupBy(labelOf(_, dim)).toSeq.sortBy(_._1)
        byLabel.foreach { case (label, rs) =>
          if (hasBand) {
            val o = root.putObject(label)
            rs.sortBy(bandOf).foreach(r => o.putArray(bandOf(r)).add(valueOf(r)))
          } else {
            root.putArray(label).addArray().add(valueOf(rs.head))
          }
        }
      case _ =>
        // xarray .to_dict() shape: dims, coords, nested data
        val dims = (if (hasBand) Seq(Dim.Band) else Nil) ++ others
        val dimsArr = root.putArray("dims"); dims.foreach(dimsArr.add)
        // numeric-aware label order: xarray .to_dict() emits coords in
        // numeric axis order, so "10.0" must sort after "2.0". Keyed as
        // (isNonNumeric, numericValue, string) — a TOTAL order even when
        // a dimension mixes numeric and non-numeric labels ("9", "8A"),
        // where a pairwise numeric-else-lexical comparator is
        // non-transitive and can make sorting throw
        val labelOrd: Ordering[String] = Ordering.by { s: String =>
          s.toDoubleOption match {
            case Some(d) => (0, d, s)
            case None    => (1, 0.0, s)
          }
        }
        val labels: Map[String, Seq[String]] = dims.map { d =>
          d -> rows.map(labelOf(_, d)).distinct.sorted(labelOrd).toSeq
        }.toMap
        val coords = root.putObject("coords")
        dims.foreach { d =>
          val o = coords.putObject(d)
          o.putArray("dims").add(d)
          val arr = o.putArray("data"); labels(d).foreach(arr.add)
        }
        val index = rows.map(r =>
          dims.map(labelOf(r, _)) -> valueOf(r)).toMap
        def nest(parent: com.fasterxml.jackson.databind.node.ArrayNode,
            prefix: Seq[String], rest: Seq[String]): Unit = rest match {
          case Seq(last) => labels(last).foreach { l =>
            index.get(prefix :+ l) match {
              case Some(v) => parent.add(v)
              case None    => parent.addNull()
            }
          }
          case d +: tail => labels(d).foreach { l =>
            nest(parent.addArray(), prefix :+ l, tail)
          }
          case _ =>
        }
        nest(root.putArray("data"), Nil, dims)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      mapper.writeValueAsString(root))
    path
  }

  /** Plain row-array JSON for tabular results (zonal stats / fit params —
    * the reference's GeoDataFrame path writes GeoJSON features instead;
    * our tabular layout keeps the same per-row records). */
  def writeJson(df: DataFrame, path: String): String = {
    val json = df.toJSON.collect().mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    path
  }
}
