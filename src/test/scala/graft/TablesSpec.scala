package graft

import graft.cube.{Cube, CubeMeta, GridRef}
import graft.ops.{Sinks, Tables}
import org.apache.spark.sql.DataFrame

/** The parquet schema registry: a registry read is the inferring read
  * (schema, partition columns and rows), it follows rewrites and the
  * inference confs, and a repeated read of an unchanged table starts no
  * Spark job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Read `path` through the registry until it is a hit (at most one
    * inferring miss first) and check it against the inferring read. */
  private def checkLaw(path: String): Unit = {
    Tables.read(spark, path)
    val (hit, jobs) = jobsDuring(Tables.read(spark, path))
    jobs shouldBe 0
    val inferred = spark.read.parquet(path)
    withClue(path) {
      hit.schema shouldBe inferred.schema
      sameRows(hit, inferred) shouldBe true
    }
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("law: a registry read equals the inferring read for every fixture " +
      "table") {
    val tables = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      dir = new java.io.File(s"/root/testdata/$sf") if dir.isDirectory
      t <- dir.listFiles().toSeq if t.getName.endsWith(".parquet")
    } yield t.getPath
    assume(tables.nonEmpty, "no fixture tables on this host")
    tables.sorted.foreach(checkLaw)
  }

  test("law: a registry read equals the inferring read for date-partitioned " +
      "and tiled cube stores, partition columns included") {
    val rows = for { d <- 1 to 3; b <- Seq("B04", "B08"); y <- 0 to 3; x <- 0 to 3 }
      yield (ts(f"2024-02-0$d 10:00:00"), b, y.toDouble, x.toDouble, d * 10.0 + y - x)
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(grid = Some(GridRef(0, 0, 1, 1))))
    val dated = Sinks.writeCubeStore(c, s"${tmp("tables-dated")}/s")
    val tiled = Sinks.writeCubeStore(c, s"${tmp("tables-tiled")}/s",
      tileCells = Some(2))
    checkLaw(dated)
    checkLaw(tiled)
    Tables.read(spark, tiled).schema.fieldNames.takeRight(3) shouldBe
      Seq("p_date", "p_tx", "p_ty")
  }

  test("an overwritten path reads with its new schema") {
    val p = s"${tmp("tables-over")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(p)
    Tables.read(spark, p)
    Tables.read(spark, p).schema.fieldNames shouldBe Seq("id", "s")
    Seq((2.5, 7, true)).toDF("v", "n", "flag").write.mode("overwrite").parquet(p)
    val back = Tables.read(spark, p)
    back.schema shouldBe spark.read.parquet(p).schema
    back.schema.fieldNames shouldBe Seq("v", "n", "flag")
    back.collect().map(_.toSeq) shouldBe Array(Seq(2.5, 7, true))
  }

  test("flipping nanosAsLong follows inference: bigint when set, what the " +
      "inferring read gives (Spark 4 refuses NANOS) when not") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a TIMESTAMP(NANOS) column, which Spark itself cannot write
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val p = s"${tmp("tables-nanos")}/t"
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$p/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    def typeOf(read: => DataFrame): Either[String, String] =
      try Right(read.schema("ts").dataType.simpleString)
      catch { case e: Exception => Left(e.getClass.getName) }
    try {
      spark.conf.set(key, "true")
      typeOf(Tables.read(spark, p)) shouldBe Right("bigint")
      typeOf(Tables.read(spark, p)) shouldBe Right("bigint")
      spark.conf.set(key, "false")
      val inferred = typeOf(spark.read.parquet(p))
      inferred should not be Right("bigint")
      typeOf(Tables.read(spark, p)) shouldBe inferred
      typeOf(Tables.read(spark, p)) shouldBe inferred
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("readEvents of a µs events file leaves nanosAsLong as it found it " +
      "and starts no job once the schema is known") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val dir = tmp("tables-events-us")
    Seq((ts("2024-02-01 10:00:00.123456"), "view", 3L, 1.5))
      .toDF("ts", "event_type", "user_id", "value")
      .write.parquet(s"$dir/events.parquet")
    val dirs = dir +: Seq("/root/testdata/sf0.001")
      .filter(d => new java.io.File(s"$d/events.parquet").exists)
    try for (found <- Seq(None, Some("false")); d <- dirs) withClue(s"$d $found: ") {
      found match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val confs = spark.conf.getAll // the explicitly set values
      confs.get(key) shouldBe found
      SparkEntry.readEvents(spark, d)
      val (ev, jobs) = jobsDuring(SparkEntry.readEvents(spark, d))
      jobs shouldBe 0
      ev.schema("ts").dataType.simpleString shouldBe "timestamp"
      spark.conf.getAll shouldBe confs
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    SparkEntry.readEvents(spark, dir).select("ts").as[java.sql.Timestamp]
      .collect() shouldBe Array(ts("2024-02-01 10:00:00.123456"))
  }

  test("readEvents of a TIMESTAMP(NANOS) events file reads µs, truncating") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val dir = tmp("tables-events-nanos")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1706781600123456789L)) // 2024-02-01 10:00:00.123456789 UTC
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val ev = SparkEntry.readEvents(spark, dir)
      ev.schema("ts").dataType.simpleString shouldBe "timestamp"
      ev.select("ts").as[java.sql.Timestamp].collect() shouldBe
        Array(java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(1706781600L, 123456000L)))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a second read of an unchanged path starts no Spark job") {
    val p = s"${tmp("tables-jobs")}/t"
    (1 to 100).map(i => (i, i * 0.5)).toDF("i", "v").write.parquet(p)
    val (_, first) = jobsDuring(Tables.read(spark, p))
    first should be >= 1 // the one inference
    val (_, second) = jobsDuring(Tables.read(spark, p))
    second shouldBe 0
    val (_, inferring) = jobsDuring(spark.read.parquet(p))
    inferring should be >= 1
  }

  test("an unlistable path raises what the inferring read raises") {
    val missing = s"${tmp("tables-missing")}/nope"
    val a = intercept[Exception](spark.read.parquet(missing))
    val b = intercept[Exception](Tables.read(spark, missing))
    b.getClass shouldBe a.getClass
  }
}
