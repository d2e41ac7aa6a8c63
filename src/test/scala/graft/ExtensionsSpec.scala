package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The SQL front door: GraftExtensions must expose every native graft_*
  * expression to pure-SQL clients, at session build (withExtensions /
  * spark.sql.extensions) and at runtime (registerAll), resolving to the
  * SAME Catalyst expressions as the Column API. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("registerAll exposes graft_* to pure spark.sql text") {
    GraftExtensions.registerAll(spark)
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

  test("a session built WITHOUT GraftExtensions gets functions, strategy " +
      "and rule from one Column-API call") {
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
        .getOrCreate()
      val registry = s2.sessionState.functionRegistry
      registry.functionExists(FunctionIdentifier("graft_dot")) shouldBe false
      val d = graft.functions.DotProduct.dot(col("a"), col("b"))
      GraftExtensions.functionInjections.foreach { case (id, _, _) =>
        registry.functionExists(id) shouldBe true }
      s2.experimental.extraStrategies
        .count(_ eq graft.plans.AsofJoinStrategy) shouldBe 1
      s2.experimental.extraOptimizations
        .count(_ eq graft.plans.BandJoinRule) shouldBe 1
      // idempotent: a second call adds nothing
      graft.functions.TextHashExprs.fnvBucket(col("a"), 64)
      s2.experimental.extraStrategies.size shouldBe 1
      s2.experimental.extraOptimizations.size shouldBe 1
      import s2.implicits._
      Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
        .select(d).head().getDouble(0) shouldBe 11.0
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
