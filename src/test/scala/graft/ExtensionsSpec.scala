package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestSessions
import org.apache.spark.sql.types._

/** The SQL front door: GraftExtensions exposes every native graft_*
  * expression to pure-SQL clients at session build (withExtensions /
  * spark.sql.extensions), resolving to the SAME Catalyst expressions as
  * the Column API, which builds them directly and registers nothing. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("the session's extensions expose graft_* to pure spark.sql text") {
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b").createOrReplaceTempView("ext_t")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d,
              graft_fnv_bucket('hello', 64) AS fb,
              graft_simhash64(array('x', 'y')) AS sh
         FROM ext_t""").head()
    r.getDouble(0) shouldBe 11.0
    // SQL path must equal the Column-API path exactly (same expression)
    val colSide = Seq(("hello"))
      .toDF("s")
      .select(graft.functions.TextHashExprs.fnvBucket(col("s"), 64))
      .head().getLong(0)
    r.getLong(1) shouldBe colSide
  }

  test("a session BUILT with GraftExtensions resolves graft_* with no registerAll") {
    spark.sparkContext // force the shared context up first
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val d = s2.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
        .head().getDouble(0)
      d shouldBe 11.0
      // the injection list covers every registered family
      val names = GraftExtensions.functionInjections.map(_._1.funcName).toSet
      names should contain allOf ("graft_dot", "graft_simhash64",
        "graft_minhash_text", "graft_bloom_agg", "graft_might_contain",
        "graft_reproject", "graft_hll_parts", "graft_cms_buckets")
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  // ------------------------------------------------ Column API == SQL text

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("toks", ArrayType(StringType)),
    StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType)),
    StructField("fa", ArrayType(FloatType)), StructField("fb", ArrayType(FloatType)),
    StructField("vec", ArrayType(DoubleType)),
    StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("q0", LongType), StructField("q1", LongType),
    StructField("v", LongType),
    StructField("bm", BinaryType), StructField("bm2", BinaryType)))

  /** Exact sketches for the bitmap and bloom probes, built once. */
  private lazy val (bitmapA, bitmapB, bloom) = {
    import graft.functions.{BitmapExprs, BloomExprs}
    def one(df: DataFrame) = df.head().getAs[Array[Byte]](0)
    (one(spark.range(1, 4).select(BitmapExprs.bitmapAgg(col("id")))),
      one(spark.range(2, 9).select(BitmapExprs.bitmapAgg(col("id")))),
      one(spark.range(0, 20).select(BloomExprs.bloomAgg(col("id"), 100L, 1024L))))
  }

  /** The one-row frame every law case reads, in session `s`. */
  private def frame(s: SparkSession): DataFrame = s.createDataFrame(
    java.util.List.of(Row("  Hello world hello  World, ｆｕｌｌ 世界 テスト ",
      Seq("a", "b", "a", "c"), Seq(1L, 2L, 3L, 5L), Seq(2L, 3L, 4L, 5L),
      Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), Seq(0.1, 0.9), 11.0, 46.0,
      5L, 3L, 7L, bitmapA, bitmapB)), schema)

  private val groups = Array((0L, Array(0.0, 0.0)), (1L, Array(1.0, 1.0)))
  private val cells = Array(Array((10L, Array(0.0, 0.5)), (11L, Array(0.2, 0.0))),
    Array((12L, Array(1.0, 0.8))))

  /** (SQL name, Column-API call, the SQL text that names the same call):
    * one case or more for every injected function with a Column API. */
  private def cases: Seq[(String, Column, String)] = {
    import graft.functions._
    import TextHashExprs._
    val hex = bloom.map("%02X".format(_)).mkString
    Seq(
      ("graft_minhash_text", minhashText(col("s"), 3, 16), "graft_minhash_text(s, 3, 16)"),
      ("graft_minhash_from_hashes", minhashFromHashes(col("a"), 8),
        "graft_minhash_from_hashes(a, 8)"),
      ("graft_jaccard", jaccardLong(col("a"), col("b")), "graft_jaccard(a, b)"),
      ("graft_jaccard_sorted", jaccardLongSorted(col("a"), col("b")),
        "graft_jaccard_sorted(a, b)"),
      ("graft_intersect_sorted", intersectCountSorted(col("a"), col("b")),
        "graft_intersect_sorted(a, b)"),
      ("graft_shingle_hashes", shingleHashes(col("s"), 2), "graft_shingle_hashes(s, 2)"),
      ("graft_simhash_text", simhashText(col("s"), 2), "graft_simhash_text(s, 2)"),
      ("graft_simhash_text", simhashText(col("s"), 2, portable = true),
        "graft_simhash_text(s, 2, 1)"),
      ("graft_repetition_stats", repetitionStats(col("s")), "graft_repetition_stats(s)"),
      ("graft_token_windows", tokenWindows(col("s"), 2), "graft_token_windows(s, 2)"),
      ("graft_ws_split", wsSplit(col("s")), "graft_ws_split(s)"),
      ("graft_ws_split", wsTokens(col("s")), "graft_ws_split(lower(trim(s)))"),
      ("graft_term_counts", termCounts(col("toks")), "graft_term_counts(toks)"),
      ("graft_fnv_bucket", fnvBucket(col("s"), 64), "graft_fnv_bucket(s, 64)"),
      ("graft_hll_parts", hllParts(col("s"), 12), "graft_hll_parts(s, 12)"),
      ("graft_cms_buckets", cmsBuckets(col("s"), 4, 1024), "graft_cms_buckets(s, 4, 1024)"),
      ("graft_count_in_sorted_set", countInSortedSet(col("a"), Array(1L, 3L, 4L)),
        "graft_count_in_sorted_set(a, array(1L, 3L, 4L))"),
      ("graft_count_any_of", countAnyOf(col("s"), Seq("hello", "o")),
        "graft_count_any_of(s, array('hello', 'o'))"),
      ("graft_bloom_agg", BloomExprs.bloomAgg(col("v"), 100L, 1024L),
        "graft_bloom_agg(v, 100L, 1024L)"),
      ("graft_might_contain", BloomExprs.mightContain(lit(bloom), col("v")),
        s"graft_might_contain(X'$hex', v)"),
      ("graft_bitmap_agg", BitmapExprs.bitmapAgg(col("v")), "graft_bitmap_agg(v)"),
      ("graft_bitmap_union_agg", BitmapExprs.bitmapUnionAgg(col("bm")),
        "graft_bitmap_union_agg(bm)"),
      ("graft_bitmap_count", BitmapExprs.bitmapCount(col("bm")), "graft_bitmap_count(bm)"),
      ("graft_bitmap_or", BitmapExprs.bitmapOr(col("bm"), col("bm2")),
        "graft_bitmap_or(bm, bm2)"),
      ("graft_bitmap_and", BitmapExprs.bitmapAnd(col("bm"), col("bm2")),
        "graft_bitmap_and(bm, bm2)"),
      ("graft_bitmap_andnot", BitmapExprs.bitmapAndNot(col("bm"), col("bm2")),
        "graft_bitmap_andnot(bm, bm2)"),
      // reproject casts its inputs itself, so the SQL text names the casts
      ("graft_reproject", GeoExprs.reproject(col("x"), col("y"), 4326, 3857),
        "graft_reproject(CAST(x AS DOUBLE), CAST(y AS DOUBLE), 4326, 3857)"),
      ("graft_dot", DotProduct.dot(col("fa"), col("fb")), "graft_dot(fa, fb)"),
      ("graft_zvalue", ZOrder.zvalue(3, col("q0"), col("q1")), "graft_zvalue(3, q0, q1)"),
      ("graft_nfkc_fold", UnicodeExprs.nfkcFold(col("s")), "graft_nfkc_fold(s)"),
      ("graft_script_counts", UnicodeExprs.scriptCounts(col("s")),
        "graft_script_counts(s)"),
      ("graft_cjk_count", UnicodeExprs.cjkCount(col("s")), "graft_cjk_count(s)"),
      ("graft_ivf_assign2", IvfExprs.assign2(col("vec"), groups, cells),
        "graft_ivf_assign2(vec, array(array(0.0D, 0.0D), array(1.0D, 1.0D)), " +
          "array(array(10L, 11L), array(12L)), array(array(array(0.0D, 0.5D), " +
          "array(0.2D, 0.0D)), array(array(1.0D, 0.8D))), 2)"))
  }

  /** The analyzed expression of a one-column select, canonicalized (an
    * aggregate's result id is not part of its meaning). */
  private def analyzed(df: DataFrame): Expression =
    (df.queryExecution.analyzed match {
      case p: Project => p.projectList.head
      case a: Aggregate => a.aggregateExpressions.head
      case other => fail(s"unexpected plan ${other.treeString}")
    }).asInstanceOf[Alias].child.canonicalized

  /** Structural equality that compares arrays (sorted sets, centroids,
    * sketch literals) by content rather than by reference. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case (x: Iterable[_], y: Iterable[_]) =>
      x.size == y.size && x.iterator.zip(y.iterator).forall { case (p, q) => same(p, q) }
    case (x: Product, y: Product) =>
      x.getClass == y.getClass && x.productArity == y.productArity &&
        x.productIterator.zip(y.productIterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** A collected value with arrays and rows as Seqs, comparable by ==. */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm)
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case s: Seq[_] => s.map(norm)
    case other => other
  }

  test("law: for every injected function with a Column API, the Column " +
      "API's analyzed expression equals the one SQL text resolves to") {
    val df = frame(spark)
    val cs = cases
    val withColumnApi = GraftExtensions.functionInjections.map(_._1.funcName).toSet --
      Set("graft_simhash64", "graft_minhash_sig", "graft_bitmap_contains")
    cs.map(_._1).toSet shouldBe withColumnApi
    for ((name, c, sql) <- cs) withClue(s"$name: $sql\n") {
      val viaColumn = df.select(c.as("r"))
      val viaSql = df.selectExpr(s"$sql AS r")
      val (e1, e2) = (analyzed(viaColumn), analyzed(viaSql))
      withClue(s"column: $e1\nsql:    $e2\n") { same(e1, e2) shouldBe true }
      norm(viaColumn.head().get(0)) shouldBe norm(viaSql.head().get(0))
    }
  }

  test("law: in a session built without extensions each Column-API call " +
      "gives the SQL text's value and leaves the session's registry and " +
      "experimental lists as they were") {
    val expected = cases.map { case (_, _, sql) =>
      norm(frame(spark).selectExpr(s"$sql AS r").head().get(0)) }
    val bare = TestSessions.withoutExtensions(spark)
    val registry = bare.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val (strategies, optimizations) =
      (bare.experimental.extraStrategies, bare.experimental.extraOptimizations)
    registry.functionExists(FunctionIdentifier("graft_dot")) shouldBe false
    SparkSession.setActiveSession(bare)
    try {
      // the Columns are built while the bare session is the active one
      val df = frame(bare)
      for (((name, c, _), want) <- cases.zip(expected)) withClue(name) {
        norm(df.select(c).head().get(0)) shouldBe want
      }
    } finally SparkSession.setActiveSession(spark)
    registry.listFunction().toSet shouldBe before
    bare.experimental.extraStrategies shouldBe strategies
    bare.experimental.extraOptimizations shouldBe optimizations
    registry.functionExists(FunctionIdentifier("graft_dot")) shouldBe false
  }
}
