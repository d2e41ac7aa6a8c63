package graft

import org.apache.spark.sql.functions._
import graft.ops.TableJoins
import graft.functions.ZOrder

class TableJoinsSpec extends SparkSpec {
  import spark.implicits._
  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  private def leftDf = Seq(
    (1L, "u1", t("2024-01-01 10:00:00")),
    (2L, "u1", t("2024-01-01 12:00:00")),
    (3L, "u2", t("2024-01-01 11:00:00")),
    (4L, "u3", t("2024-01-01 09:00:00"))
  ).toDF("id", "user", "ts")

  private def rightDf = Seq(
    ("u1", t("2024-01-01 09:30:00"), 10.0),
    ("u1", t("2024-01-01 11:00:00"), 20.0),
    ("u1", t("2024-01-01 12:00:00"), 30.0),
    ("u2", t("2024-01-01 11:30:00"), 40.0)
  ).toDF("user", "rts", "rv")

  test("asofJoin backward inclusive: most recent right at-or-before each left row") {
    val out = TableJoins.asofJoin(leftDf, rightDf, Seq("user"),
      "ts", "rts", Seq("rv"))
      .select("id", "rv").as[(Long, Option[Double])].collect().toMap
    out(1L) shouldBe Some(10.0) // 09:30 click before 10:00
    out(2L) shouldBe Some(30.0) // same-timestamp right row included
    out(3L) shouldBe None       // u2's only right row is after 11:00
    out(4L) shouldBe None       // u3 has no right rows at all
  }

  test("asofJoin strict excludes the equal-timestamp right row") {
    val out = TableJoins.asofJoin(leftDf, rightDf, Seq("user"),
      "ts", "rts", Seq("rv"), strict = true)
      .select("id", "rv").as[(Long, Option[Double])].collect().toMap
    out(2L) shouldBe Some(20.0) // 11:00, not the 12:00 row
  }

  test("asofJoin tolerance nulls out matches farther than the bound") {
    val out = TableJoins.asofJoin(leftDf, rightDf, Seq("user"),
      "ts", "rts", Seq("rv"),
      toleranceMicros = Some(45L * 60 * 1000000)) // 45 min
      .select("id", "rv").as[(Long, Option[Double])].collect().toMap
    out(1L) shouldBe Some(10.0) // 30 min gap, inside
    out(2L) shouldBe Some(30.0) // 0 gap
    out(3L) shouldBe None
  }

  test("asofJoin forward: earliest right at-or-after each left row") {
    val out = TableJoins.asofJoin(leftDf, rightDf, Seq("user"),
      "ts", "rts", Seq("rv"), forward = true)
      .select("id", "rv").as[(Long, Option[Double])].collect().toMap
    out(1L) shouldBe Some(20.0) // next after 10:00 is 11:00
    out(2L) shouldBe Some(30.0) // same-ts included
    out(3L) shouldBe Some(40.0)
    out(4L) shouldBe None
  }

  test("asofJoin same-timestamp right duplicates resolve to the struct-max payload") {
    val dup = rightDf.union(Seq(("u1", t("2024-01-01 09:30:00"), 5.0))
      .toDF("user", "rts", "rv"))
    val out = TableJoins.asofJoin(leftDf, dup, Seq("user"),
      "ts", "rts", Seq("rv"))
      .select("id", "rv").as[(Long, Option[Double])].collect().toMap
    out(1L) shouldBe Some(10.0) // max(10.0, 5.0) at 09:30, input-order-free
  }

  test("asofJoin matches the naive join-filter-argmax formulation on random data") {
    val rnd = new scala.util.Random(42)
    val l = (1 to 300).map(i =>
      (i.toLong, s"u${rnd.nextInt(5)}", t(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")))
      .toDF("id", "user", "ts")
    val r = (1 to 200).map(_ =>
      (s"u${rnd.nextInt(5)}", t(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"), rnd.nextInt(100).toDouble))
      .toDF("user", "rts", "rv")
    val fast = TableJoins.asofJoin(l, r, Seq("user"), "ts", "rts", Seq("rv"))
      .select("id", "rv").as[(Long, Option[Double])].collect().toMap
    // naive: join, keep rts<=ts, argmax (rts, rv) per id
    val naive = l.join(r, Seq("user"), "left")
      .where(col("rts").isNull || col("rts") <= col("ts"))
      .groupBy("id")
      .agg(max(struct(col("rts"), col("rv"))).as("m"))
      .select(col("id"), col("m.rv"))
      .as[(Long, Option[Double])].collect().toMap
    // ids the naive LEFT join dropped entirely never had a candidate
    val naiveAll = (1 to 300).map(i => i.toLong -> naive.getOrElse(i.toLong, None)).toMap
    fast shouldBe naiveAll
  }

  test("rangeJoin pairs each point with every containing interval, exactly once") {
    val pts = Seq((1L, t("2024-01-01 10:30:00")), (2L, t("2024-01-01 13:00:00")),
      (3L, t("2024-01-01 23:59:00"))).toDF("pid", "pts")
    val ivs = Seq((10L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00")),
      (11L, t("2024-01-01 10:15:00"), t("2024-01-01 14:00:00")),
      (12L, t("2024-01-01 12:00:00"), t("2024-01-01 12:30:00")))
      .toDF("iid", "lo", "hi")
    val out = TableJoins.rangeJoin(pts, ivs, "pts", "lo", "hi",
        binMicros = 30L * 60 * 1000000) // 30-min bins, intervals span many
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    out shouldBe Set((1L, 10L), (1L, 11L), (2L, 11L))
  }

  test("rangeJoin equals the naive inequality join on random keyed data, " +
      "across bin widths") {
    val rnd = new scala.util.Random(11)
    val pts = (1 to 400).map(i => (i.toLong, s"k${rnd.nextInt(3)}",
      t(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")))
      .toDF("pid", "key", "pts")
    val ivs = (1 to 60).map { i =>
      val h = rnd.nextInt(22); val m = rnd.nextInt(60)
      (i.toLong, s"k${rnd.nextInt(3)}",
        t(f"2024-01-01 $h%02d:$m%02d:00"),
        t(f"2024-01-01 ${h + rnd.nextInt(2)}%02d:${rnd.nextInt(60)}%02d:00"))
    }.toDF("iid", "key", "lo", "hi")
    val naive = pts.join(ivs, "key")
      .where(col("pts") >= col("lo") && col("pts") <= col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    for (binMin <- Seq(7L, 30L, 180L)) {
      val got = TableJoins.rangeJoin(pts, ivs, "pts", "lo", "hi",
          keys = Seq("key"), binMicros = binMin * 60 * 1000000)
        .select("pid", "iid").as[(Long, Long)].collect()
      got.length shouldBe got.toSet.size // exactly-once per pair
      got.toSet shouldBe naive
    }
  }

  test("rangeJoin endpoints are inclusive on both sides") {
    val pts = Seq((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 11:00:00")))
      .toDF("pid", "pts")
    val ivs = Seq((9L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00")))
      .toDF("iid", "lo", "hi")
    TableJoins.rangeJoin(pts, ivs, "pts", "lo", "hi").count() shouldBe 2
  }

  test("asofJoinSegmented == asofJoin for every (strict, tolerance, segment " +
      "width) combination — the hot-key hatch changes nothing") {
    val rnd = new scala.util.Random(99)
    val l = (1 to 400).map(i =>
      (i.toLong, s"u${rnd.nextInt(3)}",
        t(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")))
      .toDF("id", "user", "ts")
    val r = (1 to 250).map(_ =>
      (s"u${rnd.nextInt(3)}",
        t(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"),
        rnd.nextInt(1000).toDouble))
      .toDF("user", "rts", "rv")
    for {
      strict <- Seq(false, true)
      tol <- Seq(None, Some(90L * 60 * 1000000))
      segMin <- Seq(13L, 60L, 100000L) // incl. one-segment degenerate
    } {
      val plain = TableJoins.asofJoin(l, r, Seq("user"), "ts", "rts",
          Seq("rv"), strict = strict, toleranceMicros = tol)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      val seg = TableJoins.asofJoinSegmented(l, r, Seq("user"), "ts", "rts",
          Seq("rv"), segmentMicros = segMin * 60 * 1000000,
          strict = strict, toleranceMicros = tol)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      withClue(s"strict=$strict tol=$tol segMin=$segMin: ") {
        seg shouldBe plain
      }
    }
  }

  test("asofJoinNative (custom SparkPlan) == asofJoin across strict × " +
      "tolerance, including a same-source self-join") {
    val rnd = new scala.util.Random(17)
    val base = (1 to 500).map(i =>
      (i.toLong, s"u${rnd.nextInt(4)}",
        t(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"),
        rnd.nextInt(500).toDouble, if (i % 2 == 0) "view" else "click"))
      .toDF("id", "user", "ts", "v", "typ")
    val l = base.where(col("typ") === "view").select("id", "user", "ts")
    val r = base.where(col("typ") === "click")
      .select(col("user"), col("ts").as("rts"), col("v").as("rv"))
    for {
      strict <- Seq(false, true)
      tol <- Seq(None, Some(45L * 60 * 1000000))
    } {
      val window = TableJoins.asofJoin(l, r, Seq("user"), "ts", "rts",
          Seq("rv"), strict = strict, toleranceMicros = tol)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      val native = TableJoins.asofJoinNative(l, r, Seq("user"), "ts", "rts",
          Seq("rv"), strict = strict, toleranceMicros = tol)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      withClue(s"strict=$strict tol=$tol: ") { native shouldBe window }
    }
  }

  test("asof null keys never match (SQL equi-join semantics) — " +
      "identical across window, native, and segmented variants") {
    // right has a BETTER (later) match under the null key than u1's own;
    // NULL == NULL matching would attach rv=99.0 to left id=2
    val l = Seq(
      (1L, Some("u1"), t("2024-01-01 10:00:00")),
      (2L, None: Option[String], t("2024-01-01 10:00:00")))
      .toDF("id", "user", "ts")
    val r = Seq(
      (Some("u1"), t("2024-01-01 09:00:00"), 10.0),
      (None: Option[String], t("2024-01-01 09:30:00"), 99.0))
      .toDF("user", "rts", "rv")
    val expected = Map(1L -> Some(10.0), 2L -> None)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "rv").as[(Long, Option[Double])].collect().toMap
    res(TableJoins.asofJoin(l, r, Seq("user"), "ts", "rts",
      Seq("rv"))) shouldBe expected
    res(TableJoins.asofJoinNative(l, r, Seq("user"), "ts", "rts",
      Seq("rv"))) shouldBe expected
    res(TableJoins.asofJoinSegmented(l, r, Seq("user"), "ts", "rts",
      Seq("rv"), segmentMicros = 15L * 60 * 1000000)) shouldBe expected
  }

  test("asofJoinNative plans as the custom AsofJoinExec merge (no window, " +
      "no join node) and output schema matches asofJoin") {
    val l = leftDf
    val r = rightDf
    val df = TableJoins.asofJoinNative(l, r, Seq("user"), "ts", "rts",
      Seq("rv"))
    df.columns.toSeq shouldBe
      TableJoins.asofJoin(l, r, Seq("user"), "ts", "rts", Seq("rv"))
        .columns.toSeq
    val plan = df.queryExecution.executedPlan.toString
    plan should include("AsofJoin")
    plan should not include "Window"
    plan should not include "SortMergeJoin"
    // same-ts duplicate rights resolve to struct-max, like asofJoin
    val dup = r.union(Seq(("u1", t("2024-01-01 09:30:00"), 5.0))
      .toDF("user", "rts", "rv"))
    TableJoins.asofJoinNative(l, dup, Seq("user"), "ts", "rts", Seq("rv"))
      .select("id", "rv").as[(Long, Option[Double])].collect()
      .toMap.apply(1L) shouldBe Some(10.0)
  }

  test("asofJoinSegmented windows partition on (key, segment) — the hot " +
      "key's sort is split") {
    val l = (1 to 50).map(i => (i.toLong, "hot",
      new java.sql.Timestamp(i * 3600L * 1000))).toDF("id", "user", "ts")
    val r = (1 to 50).map(i => ("hot",
      new java.sql.Timestamp(i * 2700L * 1000), i.toDouble))
      .toDF("user", "rts", "rv")
    val plan = TableJoins.asofJoinSegmented(l, r, Seq("user"), "ts", "rts",
        Seq("rv"), segmentMicros = 6L * 3600 * 1000000)
      .queryExecution.executedPlan.toString
    plan should include("_seg")
    plan should include("hashpartitioning(user")
  }

  test("funnel: greedy stage ordering, null propagation, strictly-after " +
      "semantics") {
    val ev = Seq(
      // u1 converts: signup 09, click 10, purchase 11
      (1L, "signup", t("2024-01-01 09:00:00")),
      (1L, "click", t("2024-01-01 08:00:00")), // before signup — ignored
      (1L, "click", t("2024-01-01 10:00:00")),
      (1L, "purchase", t("2024-01-01 11:00:00")),
      // u2: clicks but never signs up → not in the funnel at all
      (2L, "click", t("2024-01-01 10:00:00")),
      // u3: signup then purchase WITHOUT click → purchase null
      (3L, "signup", t("2024-01-01 09:00:00")),
      (3L, "purchase", t("2024-01-01 10:00:00")),
      // u4: purchase equal to click ts — strictly-after excludes it
      (4L, "signup", t("2024-01-01 09:00:00")),
      (4L, "click", t("2024-01-01 10:00:00")),
      (4L, "purchase", t("2024-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.ops.Funnel.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    out.keySet shouldBe Set(1L, 3L, 4L)
    out(1L)._5 shouldBe true
    out(1L)._3 shouldBe Some(t("2024-01-01 10:00:00"))
    out(3L)._3 shouldBe None
    out(3L)._4 shouldBe None // no click → purchase can't count
    out(3L)._5 shouldBe false
    out(4L)._4 shouldBe None // equal ts is not strictly after
  }

  test("spatialJoin == unbinned point-in-polygon filter, exactly once") {
    import graft.ops.Geo
    val rnd = new scala.util.Random(23)
    val pts = (1 to 1000).map(i =>
      (i.toLong, rnd.nextDouble() * 20, rnd.nextDouble() * 20))
      .toDF("id", "px", "py")
    val polys: Seq[(Int, Geo.Ring)] = Seq(
      1 -> Seq((2.0, 2.0), (12.0, 3.0), (6.0, 14.0)),
      2 -> Seq((8.0, 1.0), (19.0, 6.0), (11.0, 12.0)))
    val naive = polys.flatMap { case (pid, ring) =>
      pts.where(Geo.pointInRing(col("px"), col("py"), ring))
        .select("id").as[Long].collect().map(_ -> pid)
    }.toSet
    val got = Geo.spatialJoin(pts, col("px"), col("py"), polys)
      .select("id", "poly_id").as[(Long, Int)].collect()
    got.length shouldBe got.toSet.size // exactly-once
    got.toSet shouldBe naive
  }

  test("saltedJoin is row-identical to the plain join (inner and left) on skewed data") {
    val rnd = new scala.util.Random(3)
    // 80% of left rows on one hot key
    val l = (1 to 500).map(i =>
      (i.toLong, if (rnd.nextInt(5) < 4) "hot" else s"k${rnd.nextInt(10)}", rnd.nextInt(100)))
      .toDF("id", "key", "v")
    val r = (1 to 40).map(i => (s"k${i % 12}", i.toDouble))
      .toDF("key", "w").union(Seq(("hot", 1.5), ("hot", 2.5)).toDF("key", "w"))
    for (how <- Seq("inner", "left")) {
      val salted = TableJoins.saltedJoin(l, r, Seq("key"), 4, how)
        .select("id", "key", "v", "w")
      val plain = l.join(r, Seq("key"), how).select("id", "key", "v", "w")
      // multiset compare: count per row value
      val a = salted.groupBy("id", "key", "v", "w").count()
      val b = plain.groupBy("id", "key", "v", "w").count()
      a.exceptAll(b).count() shouldBe 0
      b.exceptAll(a).count() shouldBe 0
    }
  }

  test("saltedJoin shuffles on (key, salt): the hot key spreads over saltFactor partitions") {
    val l = (1 to 100).map(i => (i.toLong, "hot")).toDF("id", "key")
    val r = Seq(("hot", 1.0)).toDF("key", "w")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = TableJoins.saltedJoin(l, r, Seq("key"), 4)
        .queryExecution.executedPlan.toString
      plan should include("_salt")
      plan should include("hashpartitioning(key")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
  }

  test("zvalue interleaves bits (worked example) and matches interpreted eval") {
    // x=0b101=5, y=0b011=3, 3 bits → z bits: y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1 = 27... compute:
    // bit i of x goes to 2i; of y to 2i+1:
    // x=101: bits 0,2 set → z bits 0, 4. y=011: bits 0,1 → z bits 1, 3.
    // z = 1 + 2 + 8 + 16 = 27
    val df = Seq((5L, 3L)).toDF("x", "y")
    val z = df.select(ZOrder.zvalue(3, col("x"), col("y")).as("z"))
      .as[Long].head()
    z shouldBe 27L
    // codegen vs interpreted agree over a sweep
    val sweep = (0 until 64).map(i => (i.toLong % 8, i.toLong / 8))
      .toDF("x", "y")
    val viaExpr = sweep.select(ZOrder.zvalue(3, col("x"), col("y")).as("z"))
      .as[Long].collect()
    val expected = (0 until 64).map { i =>
      val x = i % 8; val y = i / 8
      (0 until 3).map(b => (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum.toLong
    }
    viaExpr.toSeq shouldBe expected
  }

  test("zvalue nulls propagate; quantize clamps out-of-range") {
    val df = Seq((Some(5L), 3L), (None, 3L)).toDF("x", "y")
    val out = df.select(ZOrder.zvalue(3, col("x"), col("y")).as("z"))
      .as[Option[Long]].collect().toSet
    out shouldBe Set(Some(27L), None)
    val q = Seq(-5.0, 0.0, 50.0, 100.0, 250.0).toDF("v")
      .select(ZOrder.quantize(col("v"), 0.0, 100.0, 4).as("q"))
      .as[Long].collect().toSeq
    q shouldBe Seq(0L, 0L, 8L, 15L, 15L) // floor(v/100*16) clamped to [0,15]
  }

  test("zvalue compiles into whole-stage codegen (no silent interpreted fallback)") {
    import org.apache.spark.sql.execution.debug._
    val df = spark.range(16)
      .select(ZOrder.zvalue(4, col("id"), col("id") + 1).as("z"))
    val gen = df.queryExecution.debug.codegenToSeq()
    // one WholeStageCodegen subtree whose generated Java contains the
    // interleave loop body (a Janino compile error would fall back to
    // interpreted eval and produce no such source)
    gen.nonEmpty shouldBe true
    gen.exists(_._2.contains(">>>")) shouldBe true
    // and the generated path agrees with interpreted eval
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = spark.range(16)
        .select(ZOrder.zvalue(4, col("id"), col("id") + 1).as("z"))
        .as[Long].collect().toSeq
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      df.as[Long].collect().toSeq shouldBe interp
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("graft_zvalue is callable from pure SQL via the extensions registry") {
    GraftExtensions.registerAll(spark)
    spark.sql("SELECT graft_zvalue(3, 5L, 3L) AS z").as[Long].head() shouldBe 27L
  }

  test("applyChangelog: last change per key wins, deletes drop, inserts " +
      "add, untouched base survives — one aggregate, no join") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "status", "price")
    val changes = Seq(
      // two updates to id 1 — the LATER one wins
      (1L, ts("2024-01-01"), "U", "a", 11.0),
      (1L, ts("2024-02-01"), "U", "a2", 12.0),
      // delete id 2; a delete beats the base even at epoch+
      (2L, ts("2024-01-15"), "D", "b", 0.0),
      // brand-new key via insert
      (9L, ts("2024-01-10"), "I", "z", 90.0))
      .toDF("id", "change_ts", "op", "status", "price")
    val out = graft.ops.TableJoins.applyChangelog(base, changes,
      Seq("id"), "change_ts", "op")
    out.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet shouldBe Set(
      (1L, "a2", 12.0), // latest update
      (3L, "c", 30.0),  // untouched base row
      (9L, "z", 90.0))  // fresh insert
    // update-then-delete at a later ts: the delete wins
    val out2 = graft.ops.TableJoins.applyChangelog(base,
      changes.union(Seq((1L, ts("2024-03-01"), "D", "x", 0.0))
        .toDF("id", "change_ts", "op", "status", "price")),
      Seq("id"), "change_ts", "op")
    out2.select("id").as[Long].collect().toSet shouldBe Set(3L, 9L)
    // plan shape: no Join node, one hash-partitioned exchange on the key
    // (count only the final plan — AQE's toString repeats the initial)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    plan should not include "Join"
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 1
    plan.toLowerCase should include("partial_max")
  }

  test("clusterByZ bounds every dim's span per partition vs single-column sort") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 4096).map(_ => (rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("a", "b")
    def spans(clustered: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val s = clustered
        .withColumn("p", spark_partition_id())
        .groupBy("p").agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .agg(avg("sa"), avg("sb")).as[(Double, Double)].head()
      s
    }
    val (za, zb) = spans(ZOrder.clusterByZ(df, Seq(("a", 0, 100), ("b", 0, 100)), 8, 16))
    val (oa, ob) = spans(df.repartitionByRange(16, col("a")))
    // single-column sort: a-span tiny but b-span ~full range; z-order
    // bounds BOTH well under the full 100-range
    za should be < 60.0
    zb should be < 60.0
    ob should be > 90.0
    (za + zb) should be < (oa + ob)
  }
}
