package graft

import graft.cube.{Cube, CubeMeta, Dim}
import graft.ops.Sinks
import javax.imageio.ImageIO

class SinksSpec extends SparkSpec {
  import spark.implicits._

  def raster: Cube = {
    // band-less 2×2 raster, values 0..3 (reduced cube: no time dim)
    val df = Seq(
      (0.0, 0.0, 0.0), (0.0, 1.0, 1.0), (1.0, 0.0, 2.0), (1.0, 1.0, 3.0))
      .toDF("y", "x", "value")
    Cube(df, CubeMeta(crs = Some("EPSG:32632")))
  }

  test("PNG sink renders a stretched 8-bit image, north-up") {
    val dir = java.nio.file.Files.createTempDirectory("png").toString
    val path = Sinks.writePng(raster, s"$dir/r.png", None)
    val img = ImageIO.read(new java.io.File(path))
    img.getWidth shouldBe 2
    img.getHeight shouldBe 2
    // y DESC: top row is y=1 → values (2,3) stretch to (170,255)
    (img.getRGB(1, 0) & 0xff) shouldBe 255
    (img.getRGB(0, 1) & 0xff) shouldBe 0 // bottom-left = min value
  }

  test("GTiff sink writes a parseable little-endian TIFF with geo tags") {
    val dir = java.nio.file.Files.createTempDirectory("tif").toString
    val path = Sinks.writeGTiff(raster, s"$dir/r.tif")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    bytes(0).toChar shouldBe 'I'
    bytes(1).toChar shouldBe 'I'
    bytes(2) shouldBe 42
    // float32 pixels start at offset 8; first pixel is top-left (y=1,x=0) = 2
    val bb = java.nio.ByteBuffer.wrap(bytes, 8, 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.getFloat() shouldBe 2.0f
    bb.getFloat() shouldBe 3.0f
    bb.getFloat() shouldBe 0.0f
    bb.getFloat() shouldBe 1.0f
  }

  test("time-bearing cube is rejected by raster sinks (reference parity)") {
    val c = cubeOf(("2024-01-01", "B", 0, 0, 1.0))
    an[IllegalArgumentException] should be thrownBy
      Sinks.writeGTiff(Cube(c.df.drop(Dim.Band), c.meta), "/tmp/x.tif")
  }

  def twoBandRaster: Cube = {
    val df = Seq(
      ("A", 0.0, 0.0, 1.0), ("A", 0.0, 1.0, 2.0),
      ("A", 1.0, 0.0, 3.0), ("A", 1.0, 1.0, 4.0),
      ("B", 0.0, 0.0, 10.0), ("B", 0.0, 1.0, 20.0),
      ("B", 1.0, 0.0, 30.0), ("B", 1.0, 1.0, 40.0))
      .toDF("band", "y", "x", "value")
    Cube(df, CubeMeta(crs = Some("EPSG:32632"), bandOrder = Seq("A", "B")))
  }

  test("PNG sink maps red/green/blue options onto the chosen bands") {
    val df = Seq(
      ("R", 0.0, 0.0, 0.0), ("R", 0.0, 1.0, 10.0),
      ("G", 0.0, 0.0, 10.0), ("G", 0.0, 1.0, 0.0),
      ("B", 0.0, 0.0, 0.0), ("B", 0.0, 1.0, 0.0))
      .toDF("band", "y", "x", "value")
    val c = Cube(df, CubeMeta(bandOrder = Seq("R", "G", "B")))
    val opts = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("""{"red":"R","green":"G","blue":"B"}""")
    val dir = java.nio.file.Files.createTempDirectory("pngrgb").toString
    val img = ImageIO.read(new java.io.File(
      Sinks.writePng(c, s"$dir/rgb.png", Some(opts))))
    // x=1: red channel maxed; x=0: green channel maxed
    (img.getRGB(1, 0) >> 16 & 0xff) shouldBe 255
    (img.getRGB(0, 0) >> 8 & 0xff) shouldBe 255
    (img.getRGB(1, 0) >> 8 & 0xff) shouldBe 0
  }

  test("GTiff sink round-trips a 2-band planar raster with stats + nodata") {
    val dir = java.nio.file.Files.createTempDirectory("tif2").toString
    val path = Sinks.writeGTiff(twoBandRaster, s"$dir/r2.tif")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.getChar; bb.getChar // II, 42 checked by the single-band test
    // parse the IFD: entries keyed by tag
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xffff
    val tags = (0 until n).map { i =>
      val off = ifd + 2 + i * 12
      (bb.getShort(off) & 0xffff) ->
        (bb.getShort(off + 2) & 0xffff, bb.getInt(off + 4), off + 8)
    }.toMap
    tags(277)._2 shouldBe 1; bb.getShort(tags(277)._3) shouldBe 2 // 2 samples
    bb.getShort(tags(284)._3) shouldBe 2                          // planar
    // two strips: band A plane then band B plane (row-major, y desc)
    val so = tags(273); so._2 shouldBe 2
    val stripTable = bb.getInt(so._3)
    val offA = bb.getInt(stripTable); val offB = bb.getInt(stripTable + 4)
    bb.getFloat(offA) shouldBe 3.0f  // top-left of A (y=1 row first)
    bb.getFloat(offB) shouldBe 30.0f // top-left of B
    // GDAL metadata + nodata tags present with per-band stats
    val txt = new String(bytes, "ISO-8859-1")
    txt should include("STATISTICS_MINIMUM")
    txt should include("""sample="1"""")
    tags should contain key 42113
  }

  test("JSON cube sink: 1-D time axis with bands → {label: {band: [v]}}") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), "A", 1.0), (ts("2024-01-01 00:00:00"), "B", 2.0),
      (ts("2024-01-02 00:00:00"), "A", 3.0), (ts("2024-01-02 00:00:00"), "B", 4.0))
      .toDF("time", "band", "value")
    val c = Cube(df, CubeMeta(bandOrder = Seq("A", "B")))
    val dir = java.nio.file.Files.createTempDirectory("jsonc").toString
    val path = Sinks.writeJsonCube(c, s"$dir/r.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    node.fieldNames().next() should startWith("2024-01-01")
    val day1 = node.get(node.fieldNames().next())
    day1.get("A").get(0).asDouble() shouldBe 1.0
    day1.get("B").get(0).asDouble() shouldBe 2.0
  }

  test("JSON cube sink: 0-D with bands → {band: [[v]]}") {
    val df = Seq(("A", 7.0), ("B", 8.0)).toDF("band", "value")
    val c = Cube(df, CubeMeta(bandOrder = Seq("A", "B")))
    val dir = java.nio.file.Files.createTempDirectory("json0").toString
    val path = Sinks.writeJsonCube(c, s"$dir/r.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    node.get("A").get(0).get(0).asDouble() shouldBe 7.0
    node.get("B").get(0).get(0).asDouble() shouldBe 8.0
  }

  test("JSON cube sink: 2-D (y,x) → xarray-to_dict shape {dims,coords,data}") {
    val path = Sinks.writeJsonCube(raster,
      java.nio.file.Files.createTempDirectory("json2").toString + "/r.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    node.get("dims").get(0).asText() shouldBe "y"
    node.get("dims").get(1).asText() shouldBe "x"
    // data[y=0][x=1] = 1.0 (labels sorted ascending)
    node.get("data").get(0).get(1).asDouble() shouldBe 1.0
    node.get("coords").get("y").get("data").size() shouldBe 2
  }

  test("JSON sink writes row objects") {
    val dir = java.nio.file.Files.createTempDirectory("json").toString
    val path = Sinks.writeJson(raster.df, s"$dir/r.json")
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    txt should startWith("[")
    txt should include(""""value":3.0""")
  }

  test("NetCDF write → read round-trip: loadResultNetcdf returns exactly " +
      "the written cells (float32), NaN fill cells dropped") {
    val df = Seq(
      ("2024-01-01", "B04", 0.0, 0.0, 1.25), ("2024-01-01", "B04", 0.0, 1.0, 2.5),
      ("2024-01-01", "B08", 1.0, 1.0, 6.75), ("2024-01-02", "B04", 0.0, 0.0, 7.125),
      ("2024-01-02", "B08", 1.0, 0.0, 8.0))
      .toDF("ts", "band", "y", "x", "value")
      .select(org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("ts")).as("time"),
        org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("y"),
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("value"))
    val c = Cube(df, CubeMeta(crs = Some("EPSG:32632"),
      bandOrder = Seq("B04", "B08")))
    val dir = java.nio.file.Files.createTempDirectory("ncrt").toString
    val path = Sinks.writeNetcdf(c, s"$dir/rt.nc")
    val back = graft.ops.Scan.loadResultNetcdf(spark, path)
    back.meta.bandOrder shouldBe Seq("B04", "B08")
    val got = back.df
      .select("time", "band", "y", "x", "value")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getFloat(4)))
      .toSet
    got shouldBe Set(
      ("2024-01-01 00:00:00.0", "B04", 0.0, 0.0, 1.25f),
      ("2024-01-01 00:00:00.0", "B04", 0.0, 1.0, 2.5f),
      ("2024-01-01 00:00:00.0", "B08", 1.0, 1.0, 6.75f),
      ("2024-01-02 00:00:00.0", "B04", 0.0, 0.0, 7.125f),
      ("2024-01-02 00:00:00.0", "B08", 1.0, 0.0, 8.0f))
  }

  test("NetCDF-3 sink writes a spec-conformant CDF-1 file (independent parse)") {
    // 4-D cube: 2 times × 2 bands × 2 y × 2 x with one missing cell
    val df = Seq(
      ("2024-01-01", "B04", 0.0, 0.0, 1.0), ("2024-01-01", "B04", 0.0, 1.0, 2.0),
      ("2024-01-01", "B04", 1.0, 0.0, 3.0), ("2024-01-01", "B04", 1.0, 1.0, 4.0),
      ("2024-01-01", "B08", 0.0, 0.0, 5.0), ("2024-01-01", "B08", 1.0, 1.0, 6.0),
      ("2024-01-02", "B04", 0.0, 0.0, 7.0), ("2024-01-02", "B08", 1.0, 0.0, 8.0))
      .toDF("ts", "band", "y", "x", "value")
      .select(org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("ts")).as("time"),
        org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("y"),
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("value"))
    val c = Cube(df, CubeMeta(crs = Some("EPSG:32632"),
      bandOrder = Seq("B04", "B08")))
    val dir = java.nio.file.Files.createTempDirectory("nc").toString
    val path = Sinks.writeNetcdf(c, s"$dir/r.nc")
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val buf = java.nio.ByteBuffer.wrap(b) // big-endian by default
    // magic + version
    new String(b.take(3), "US-ASCII") shouldBe "CDF"
    b(3) shouldBe 1.toByte
    buf.position(4); buf.getInt() shouldBe 0 // numrecs
    // dim list: tag, count, then (name, len) pairs
    buf.getInt() shouldBe 0x0A
    val ndims = buf.getInt()
    ndims shouldBe 5
    def name(): String = {
      val n = buf.getInt(); val s = new Array[Byte](n); buf.get(s)
      buf.position(buf.position() + ((4 - n % 4) % 4))
      new String(s, "UTF-8")
    }
    val dims = (0 until ndims).map(_ => (name(), buf.getInt()))
    dims shouldBe Seq(("time", 2), ("band", 2), ("band_strlen", 3),
      ("y", 2), ("x", 2))
    // global atts: crs
    buf.getInt() shouldBe 0x0C
    buf.getInt() shouldBe 1
    name() shouldBe "crs"
    buf.getInt() shouldBe 2 // NC_CHAR
    val crsLen = buf.getInt()
    val crsB = new Array[Byte](crsLen); buf.get(crsB)
    new String(crsB, "UTF-8") shouldBe "EPSG:32632"
    buf.position(buf.position() + ((4 - crsLen % 4) % 4))
    // var list
    buf.getInt() shouldBe 0x0B
    val nvars = buf.getInt()
    nvars shouldBe 5
    var valueBegin = -1; var valueVsize = -1
    var yBegin = -1
    (0 until nvars).foreach { _ =>
      val vn = name()
      val nd = buf.getInt()
      (0 until nd).foreach(_ => buf.getInt())
      // atts
      val tag = buf.getInt(); val natt = buf.getInt()
      if (tag == 0x0C) (0 until natt).foreach { _ =>
        name(); val t = buf.getInt(); val nel = buf.getInt()
        val sz = t match { case 2 => 1; case 5 => 4; case _ => 8 }
        val raw = nel * sz
        buf.position(buf.position() + raw + ((4 - raw % 4) % 4))
      }
      val _ = buf.getInt() // nc_type
      val vsize = buf.getInt(); val begin = buf.getInt()
      if (vn == "value") { valueBegin = begin; valueVsize = vsize }
      if (vn == "y") yBegin = begin
    }
    // y coordinate is north-up (descending)
    buf.position(yBegin)
    buf.getDouble() shouldBe 1.0
    buf.getDouble() shouldBe 0.0
    // value data: 16 floats; (t0, B04) block row-major with y desc:
    // y=1 row first → (3,4), then y=0 → (1,2)
    valueVsize shouldBe 16 * 4
    buf.position(valueBegin)
    val vals = (0 until 16).map(_ => buf.getFloat())
    vals.take(4) shouldBe Seq(3f, 4f, 1f, 2f)
    // missing cells are NaN: (t0, B08) block has 2 gaps
    vals.slice(4, 8).count(_.isNaN) shouldBe 2
    // file ends exactly at the last var's padded data
    valueBegin + valueVsize shouldBe b.length
  }

  test("NetCDF sink sizes non-ASCII band names in UTF-8 bytes; dtype cast reaches the .nc") {
    import org.apache.spark.sql.functions._
    // "Bänd" = 4 chars but 5 UTF-8 bytes — vsize must use bytes or every
    // later variable offset is wrong (nc3check-style end check catches it)
    val df = Seq(("Bänd", 0.0, 0.0, 2.7), ("B2", 0.0, 1.0, 3.9))
      .toDF("band", "y", "x", "value")
    val c = Cube(df, CubeMeta(bandOrder = Seq("Bänd", "B2")))
    val dir = java.nio.file.Files.createTempDirectory("nc2").toString
    val p = Sinks.writeNetcdf(c, s"$dir/u.nc")
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    new String(b.take(3), "US-ASCII") shouldBe "CDF"
    // structural invariant: total size = header + padded var sizes; a
    // char-count strlen would shift every offset and break this
    b.length % 4 shouldBe 0
    // dtype cast reaches the rendition: save as NETCDF with dtype=int
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val outDir = java.nio.file.Files.createTempDirectory("nc3").toString
    Sinks.saveResult(c, "NETCDF", outDir,
      Some(mapper.readTree("""{"dtype":"int"}""")))
    val nc = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outDir/result.nc"))
    val buf = java.nio.ByteBuffer.wrap(nc)
    // value data sits at the tail: last 2 floats (2 bands × 1 y × 2 x =
    // 4 cells, 2 filled); collect all and check the cast values 2 and 3
    val floats = (0 until 4).map(i => buf.getFloat(nc.length - 16 + i * 4))
    floats.filterNot(_.isNaN).toSet shouldBe Set(2f, 3f)
  }

  /** A 4-D cube read from parquet whose value passes a UDF that counts
    * the rows it sees, so every execution of the plan shows in `acc`. */
  private def countedCube(acc: org.apache.spark.util.LongAccumulator,
      empty: Boolean = false): (Cube, Long) = {
    import org.apache.spark.sql.functions._
    val src = s"${java.nio.file.Files.createTempDirectory("nc-src")}/c"
    val rows = for { d <- 1 to 3; b <- Seq("B04", "B08"); y <- 0 to 2; x <- 0 to 3 }
      yield (ts(s"2024-03-0$d 00:00:00"), b, y.toDouble, x.toDouble,
        d * 100.0 + y * 4 + x + (if (b == "B08") 0.5 else 0.0))
    rows.toDF("time", "band", "y", "x", "value").write.parquet(src)
    val counting = udf((v: Double) => { acc.add(1); v })
    val counted = spark.read.parquet(src)
      .withColumn("value", counting(col("value")))
    // every value is positive; the filter moves below the projection, so
    // each row still passes the counting UDF once
    val df = if (empty) counted.where(col("value") < 0) else counted
    (Cube(df, CubeMeta(crs = Some("EPSG:32632"), bandOrder = Seq("B04", "B08"))),
      rows.size.toLong)
  }

  test("a NETCDF save executes the cube's plan once; its parquet equals " +
      "the PARQUET save's") {
    val acc = spark.sparkContext.longAccumulator("nc-rows")
    val (c, n) = countedCube(acc)
    val out = java.nio.file.Files.createTempDirectory("nc-once").toString
    Sinks.saveResult(c, "NETCDF", out) shouldBe s"$out/result.parquet"
    acc.value shouldBe n
    val ref = java.nio.file.Files.createTempDirectory("nc-ref").toString
    Sinks.saveResult(c, "PARQUET", ref)
    val got = spark.read.parquet(s"$out/result.parquet")
    val want = spark.read.parquet(s"$ref/result.parquet")
    got.schema shouldBe want.schema
    got.collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe
      want.collect().map(_.toSeq).sortBy(_.mkString("|"))
    // the .nc rendition holds the same cells
    val nc = graft.ops.Scan.loadResultNetcdf(spark, s"$out/result.nc")
    rowSet(nc.df.select("time", "band", "y", "x", "value")) shouldBe
      rowSet(want.select(org.apache.spark.sql.functions.col("time"),
        org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("y"),
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("value").cast("float")))
  }

  test("an empty cube saved as NETCDF writes result.parquet and no .nc, " +
      "executing its plan once") {
    val acc = spark.sparkContext.longAccumulator("nc-empty-rows")
    val (c, n) = countedCube(acc, empty = true)
    val out = java.nio.file.Files.createTempDirectory("nc-empty").toString
    val (_, jobs) = jobsDuring(Sinks.saveResult(c, "NETCDF", out))
    acc.value shouldBe n
    // the collect, then the write of the (empty) collected rows, which
    // does not run the plan
    jobs shouldBe 2
    new java.io.File(s"$out/result.nc").exists shouldBe false
    val back = spark.read.parquet(s"$out/result.parquet")
    back.count() shouldBe 0
    back.schema.fieldNames shouldBe c.df.schema.fieldNames
  }
}
