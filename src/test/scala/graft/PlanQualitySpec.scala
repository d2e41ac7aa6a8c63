package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.ops.{Filters, Scan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the operators must not just be correct — the
  * plans must be the ones that survive a 100 TB scale-up. Filters reach the
  * parquet scan (row-group skipping), small sides broadcast, element-wise
  * chains stay in one WholeStageCodegen stage. */
class PlanQualitySpec extends SparkSpec {

  lazy val storeDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-coll").toString
    val rows = for { d <- 1 to 3; b <- Seq("B04", "B08"); y <- 0 to 3; x <- 0 to 3 }
      yield (ts(f"2022-06-0$d 00:00:00"), b, y.toDouble, x.toDouble, d * 1.0)
    rows.toDF("time", "band", "y", "x", "value")
      .write.mode("overwrite").parquet(s"$dir/c")
    dir
  }

  def spec: Scan.CollectionSpec = Scan.CollectionSpec(s"$storeDir/c",
    bandOrder = Seq("B04", "B08"), grid = Some(GridRef(0, 0, 1, 1)))

  def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan filters (band, time, bbox) are pushed to the parquet source") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val c = Scan.loadCollection(spark, spec, bands = Seq("B04"),
      temporalExtent = Some(("2022-06-01", "2022-06-03")),
      bbox = Some((0.5, 0.5, 2.5, 2.5)), extentCrs = graft.ops.EpsgRef(0))
    val plan = planString(c.df)
    plan should include("PushedFilters")
    // single-band isin simplifies to EqualTo; time + x/y ranges pushed
    plan should include("EqualTo(band,B04)")
    plan should include("GreaterThanOrEqual(time")
    plan should include("GreaterThanOrEqual(x")
    plan should include("LessThanOrEqual(y")
  }

  test("filter composition keeps one scan node (no materialization barriers)") {
    val c0 = Scan.loadCollection(spark, spec)
    val c = Filters.filterBands(
      Filters.filterTemporal(c0, "2022-06-01", "2022-06-02"), Seq("B08"))
    val plan = planString(c.df)
    plan.split("FileScan").length - 1 shouldBe 1
    plan should include("PushedFilters")
  }

  test("column pruning: selecting two columns reads only those from parquet") {
    val c = Scan.loadCollection(spark, spec)
    val pruned = c.df.select("band", "value")
    val plan = planString(pruned)
    plan should include("ReadSchema: struct<band:string,value:double>")
  }

  test("mask join broadcasts the reduced mask side") {
    val data = Scan.loadCollection(spark, spec)
    val mask = Cube(
      data.df.where(col(Dim.Band) === "B04")
        .groupBy(Dim.Time, Dim.Y, Dim.X)
        .agg(max(when(col(Cube.ValueCol) > 2.0, 1.0).otherwise(0.0))
          .as(Cube.ValueCol)),
      CubeMeta())
    val masked = Filters.mask(data, mask)
    planString(masked.df) should include("BroadcastHashJoin")
  }

  test("element-wise chains stay inside whole-stage codegen") {
    val c = Scan.loadCollection(spark, spec)
    val chained = c.mapValue(v => v * 2.0)
      .mapValue(v => v + 1.0)
      .mapValue(v => greatest(lit(0.0), least(lit(100.0), v)))
    val plan = planString(chained.df)
    // "*(1)" is the WholeStageCodegen stage marker: the whole chain must
    // collapse into ONE fused projection over the scan, no exchange
    plan should include("*(1) Project")
    plan should include("((value")
    plan should not include "Exchange"
  }

  test("dimension reduction is a partial+final hash aggregate (map-side combine)") {
    val c = Scan.loadCollection(spark, spec)
    val plan = planString(
      graft.ops.Reducers.reduceDimension(c, "time", "max").df)
    plan should include("HashAggregate")
    // partial_max proves the map-side combine before the shuffle
    plan.toLowerCase should include("partial_max")
  }

  test("brute-force top-k: corpus is never shuffled before partial aggregation") {
    import spark.implicits._
    val corpus = (0L until 100L).map(i =>
      (i, Array(i.toFloat, (i % 7).toFloat, 1f))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 3)
    val df = graft.text.Similarity.topKBruteForce(
      corpus, queries, "vec_id", "embedding", k = 5)
    val plan = planString(df)
    // queries broadcast; the corpus flows scan → score → PARTIAL top-k
    // aggregate; the only hash exchange carries ≤ k rows per (task, query)
    plan should include("BroadcastNestedLoopJoin")
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 1
    val beforeAgg = plan.substring(plan.indexOf("ObjectHashAggregate"))
    // the partial aggregate sits below the exchange (no corpus shuffle)
    beforeAgg should include("Exchange hashpartitioning")
  }

  test("IVF assignment is one projection — no join, no shuffle, no explode") {
    import spark.implicits._
    val corpus = (0L until 50L).map(i =>
      (i, Array(i.toFloat, 1f))).toDF("vec_id", "embedding")
    val cents = graft.text.Similarity.sampleCentroids(
      corpus, "vec_id", "embedding", nCentroids = 4)
    val assigned = graft.text.Similarity.ivfAssign(
      corpus, cents, "vec_id", "embedding")
    val plan = planString(assigned)
    plan should not include "Join"
    plan should not include "Exchange"
    plan should not include "Generate" // no explode amplification
  }

  test("knnJoinIvf candidate join is a shuffled equi-join on (cell, shard) — " +
      "no corpus-scale broadcast, no cartesian blow-up") {
    import spark.implicits._
    val corpus = (0L until 80L).map(i =>
      (i, Array(i.toFloat, (i % 7).toFloat))).toDF("vec_id", "embedding")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // kill SIZE-based broadcast: only explicit hints (the 16-row
      // centroid table) may broadcast, so the candidate join must appear
      // in its scale form — a shuffled equi-join keyed on cell AND shard
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val knn = graft.text.Similarity.knnJoinIvf(corpus, "vec_id",
        "embedding", k = 2, nCentroids = 4, nProbe = 2, saltFactor = 2)
      val plan = planString(knn)
      plan should not include "CartesianProduct"
      // the candidate join shuffles both sides on (centroid_id, _shard)
      plan should include("hashpartitioning(centroid_id")
      plan should include("_shard")
      // bounded top-k: partial ObjectHashAggregate below the final
      // exchange, so each task ships <= k candidates per query
      plan should include("ObjectHashAggregate")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("run_udf source compiles into the codegen projection — no ScalaUDF") {
    val c = Scan.loadCollection(spark, spec)
    val applied = c.mapValue(v => graft.compile.UdfCompiler.compile(
      "function(x, context) { sqrt(x) * 2 + 1 }", v))
    val plan = planString(applied.df)
    plan should not include "ScalaUDF"
    plan should not include "BatchEvalPython"
    plan should include("*(1) Project") // fused into the scan's stage
    plan should not include "Exchange"
  }

  test("date-partitioned store: temporal extent prunes day partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-part").toString
    val rows = for { d <- 1 to 9; y <- 0 to 1; x <- 0 to 1 }
      yield (ts(f"2022-06-0$d 00:00:00"), "B04", y.toDouble, x.toDouble, d * 1.0)
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("B04")))
    graft.ops.Sinks.writeCubeStore(c, s"$dir/store")
    val partSpec = Scan.CollectionSpec(s"$dir/store", bandOrder = Seq("B04"))
    val loaded = Scan.loadCollection(spark, partSpec,
      temporalExtent = Some(("2022-06-03", "2022-06-05")))
    // [start, end): days 3 and 4 only — the exact time predicate governs
    loaded.df.count() shouldBe 8
    loaded.df.columns should not contain "p_date"
    val plan = planString(loaded.df)
    plan should include("PartitionFilters")
    plan should include("p_date")
    // the scan's partition count proves directories were pruned, not just
    // row-groups skipped: pruning bounds widen ±1 day for timezone safety
    // → days 2-5 listed, 4 of 9 directories
    val scanned = loaded.df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    scanned shouldBe 4
    // a store WITHOUT the writeCubeStore marker must not be event-time
    // pruned on its own p_date column (it may mean something else)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"$dir/store"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/store",
      graft.ops.Sinks.MarkerFile), false)
    val unmarked = Scan.loadCollection(spark, partSpec,
      temporalExtent = Some(("2022-06-03", "2022-06-05")))
    unmarked.df.count() shouldBe 8 // still correct, via the time predicate
    planString(unmarked.df) should include("PartitionFilters: []")
  }

  test("spatially tiled store: a bbox scan prunes tile directories " +
      "(and composes with day pruning); results equal the untiled scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-tile").toString
    // 2 days × 16×16 grid → tiles of 4 cells → 4×4 tile directories/day
    val rows = for { d <- 1 to 2; y <- 0 until 16; x <- 0 until 16 }
      yield (ts(f"2022-06-0$d 00:00:00"), "B04", y.toDouble, x.toDouble,
        (d * 1000 + y * 16 + x).toDouble)
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("B04"), grid = Some(GridRef(0, 0, 1, 1))))
    graft.ops.Sinks.writeCubeStore(c, s"$dir/tiled", tileCells = Some(4))
    graft.ops.Sinks.writeCubeStore(c, s"$dir/flat")
    val tiledSpec = Scan.CollectionSpec(s"$dir/tiled",
      bandOrder = Seq("B04"), grid = Some(GridRef(0, 0, 1, 1)))
    val flatSpec = Scan.CollectionSpec(s"$dir/flat",
      bandOrder = Seq("B04"), grid = Some(GridRef(0, 0, 1, 1)))
    // bbox over cells x,y in [5.5, 9.5] (EPSG 0 = raw cube coords)
    val tiled = Scan.loadCollection(spark, tiledSpec,
      bbox = Some((5.5, 5.5, 9.5, 9.5)), extentCrs = graft.ops.EpsgRef(0))
    val flat = Scan.loadCollection(spark, flatSpec,
      bbox = Some((5.5, 5.5, 9.5, 9.5)), extentCrs = graft.ops.EpsgRef(0))
    rowSet(tiled.df) shouldBe rowSet(flat.df)
    tiled.df.count() shouldBe 2L * 4 * 4 // x,y ∈ {6..9}, both days
    tiled.df.columns should not contain "p_tx"
    val plan = planString(tiled.df)
    plan should include("p_tx")
    plan should include("p_ty")
    // tile span: cells 6-9 → tiles 1-2, widened ±1 → tiles 0-3 = ALL in
    // this tiny grid; use a corner bbox to prove real pruning
    val corner = Scan.loadCollection(spark, tiledSpec,
      bbox = Some((0.0, 0.0, 1.0, 1.0)), extentCrs = graft.ops.EpsgRef(0))
    corner.df.count() shouldBe 2L * 2 * 2
    val scanned = corner.df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    // tiles (0..1)² of 4² per day × 2 days = 8 directories, not 32
    scanned shouldBe 8
    // composes with temporal pruning: one day × 4 tile dirs... day
    // pruning widens ±1 day, so both days remain but tiles still prune
    val both = Scan.loadCollection(spark, tiledSpec,
      temporalExtent = Some(("2022-06-01", "2022-06-02")),
      bbox = Some((0.0, 0.0, 1.0, 1.0)), extentCrs = graft.ops.EpsgRef(0))
    both.df.count() shouldBe 1L * 2 * 2
  }

  test("geocode consumes the binned lineage once (single scan, one gap-fill agg)") {
    import spark.implicits._
    val t = new java.sql.Timestamp(0L)
    val rows = Seq(
      (t, "grid_lon", 0.0, 0.0, 11.35), (t, "grid_lat", 0.0, 0.0, 46.5),
      (t, "VV", 0.0, 0.0, 5.0))
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(bandOrder = Seq("grid_lon", "grid_lat", "VV")))
    val plan = planString(graft.ops.Sar2Cube.geocode(c, 32632, 10.0).df)
    // the window/TM/bin pipeline runs ONCE inside the eager checkpoint;
    // the gap-fill consumers (cell set, fill join, union) all scan the
    // materialized binned RDD — no recompute of the input lineage
    plan should not include "Window"          // gather not re-run downstream
    // five checkpoint readers: cell set, slice set, anti-join, fill join,
    // union — all narrow scans of the materialized bin, zero recompute
    plan.split("Scan ExistingRDD").length - 1 shouldBe 5
    // the fill stencil joins broadcast-side — the binned grid never moves
    plan should include("BroadcastHashJoin")
  }

  test("IVF index probes read only the matching buckets") {
    import spark.implicits._
    val corpus = (0L until 64L).map(i =>
      (i, Array(i.toFloat, 1f))).toDF("vec_id", "embedding")
    val cents = graft.text.Similarity.sampleCentroids(
      corpus, "vec_id", "embedding", nCentroids = 4)
    val assigned = graft.text.Similarity.ivfAssign(
      corpus, cents, "vec_id", "embedding")
    graft.text.Similarity.writeIvfIndex(assigned, "ivf_probe_test", nBuckets = 8)
    // autoBucketedScan turns bucketed reads off when it sees no join/agg;
    // force it on so the filter's bucket pruning is visible in the plan
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = spark.table("ivf_probe_test").where(col("centroid_id") === 2L)
      val plan = planString(probe)
      plan should include("SelectedBucketsCount: 1 out of 8")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS ivf_probe_test")
    }
  }

  test("zonal stats compiles to pure expressions — no UDF, no extra shuffle") {
    val c = Scan.loadCollection(spark, spec)
    val df = graft.ops.Reducers.aggregateSpatial(c,
      Seq(Seq((-0.5, -0.5), (1.5, -0.5), (1.5, 3.5), (-0.5, 3.5))), "mean",
      featuresEpsg = 0)
    val plan = planString(df)
    plan should not include "BatchEvalPython"
    plan should not include "ScalaUDF"
    plan.split("Exchange").length - 1 should be <= 2 // agg exchange (+AQE read)
  }

  test("decontaminate: eval grams broadcast; corpus side never hash-shuffles full rows") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i body tokens alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val evalDocs = docs.where(col("doc_id") % 50 === 0)
    val out = graft.text.Dedup.decontaminate(
      docs.where(col("doc_id") % 50 =!= 0), evalDocs, "text", "doc_id")
    val plan = planString(out)
    // both joins broadcast (eval gram set; per-doc hit counts): the only
    // hash exchanges are the EVAL-side distinct (small by definition) and
    // the partial-aggregated (id, count) stream — corpus rows never
    // hash-partition
    plan.split("BroadcastHashJoin").length - 1 shouldBe 2
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 2
    // the hit-count aggregation is partial+final (map-side combine)
    plan should include("partial_count")
  }

  test("repetition signals and reduce-position run_udf stay one-pass") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"a b a c token$i"))
      .toDF("doc_id", "text")
    val rep = graft.text.TextAnalysis.repetitionSignals(docs, "text", "doc_id")
    planString(rep) should not include "Exchange"
    // reduce-position UDF = partial+final aggregate, one exchange
    val c = Scan.loadCollection(spark, spec)
    val red = graft.ops.Reducers.reduceDimensionExpr(c, "time",
      graft.compile.UdfCompiler.compileReduce("max(x) - min(x)",
        col(graft.cube.Cube.ValueCol)).cast("double"))
    val plan = planString(red.df)
    plan should not include "ScalaUDF"
    plan should include("partial_max")
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 1
  }

  test("PQ encode is one projection; scoring join broadcasts the query LUTs") {
    import spark.implicits._
    val corpus = (0L until 64L).map(i =>
      (i, Array.fill(8)((i % 5).toFloat))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 2)
    val df = graft.text.Similarity.topKPq(corpus, queries,
      "vec_id", "embedding", k = 3, m = 2, ksub = 4)
    val plan = planString(df)
    // corpus side: scan → m argmin projections → join → partial top-k;
    // the only hash exchange is the ≤ k-rows-per-query aggregate shuffle
    plan should include("BroadcastNestedLoopJoin")
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 1
    // below the partial aggregate (the corpus side) there is no explode
    // amplification and no shuffle — the only Generate is rankTopK's
    // k-rows-per-query posexplode ABOVE the aggregate
    val corpusSide = plan.substring(plan.indexOf("partial_topkagg"))
    corpusSide should not include "Generate"
    corpusSide should not include "Exchange hashpartitioning"
  }

  test("corpus store: reading one split scans only that partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("corpus-store").toString
    val docs = (0L until 40L).map(i =>
      (i, s"text $i", if (i % 10 == 0) "val" else "train",
        if (i % 2 == 0) "en" else "de")).toDF("doc_id", "text", "split", "lang")
    graft.text.Sampling.writeCorpusStore(docs, s"$dir/c")
    val read = spark.read.parquet(s"$dir/c")
      .where(col("split") === "train" && col("lang") === "en")
    val plan = planString(read)
    // both predicates land in PartitionFilters (directory pruning), not
    // as data filters the scan must evaluate row by row
    plan should include("PartitionFilters")
    val pf = plan.substring(plan.indexOf("PartitionFilters"))
    pf.substring(0, pf.indexOf("]")) should include("split")
    pf.substring(0, pf.indexOf("]")) should include("lang")
    read.count() shouldBe 16 // en ∩ train: 20 evens minus the 4 val ids
  }

  test("chunkByTokens is a pure map-side explode — no shuffle") {
    import spark.implicits._
    val docs = (0L until 30L).map(i =>
      (i, Seq.fill(70)(s"w$i").mkString(" "))).toDF("doc_id", "text")
    val plan = planString(
      graft.text.Packing.chunkByTokens(docs, "text", "doc_id", 32))
    plan should not include "Exchange"
    plan should include("Generate") // the explode IS the operator
  }

  test("interleaveSources: per-source thinning is a filter, no shuffle, no join") {
    import spark.implicits._
    val a = (0L until 50L).map(i => (i, "en")).toDF("doc_id", "lang")
    val b = (50L until 100L).map(i => (i, "de")).toDF("doc_id", "lang")
    val mixed = graft.text.Sampling.interleaveSources(
      Seq((a, 0.5, "web"), (b, 0.25, "code")), "doc_id")
    val plan = planString(mixed)
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("dedupCorpus broadcasts the cluster-label table; corpus never shuffles") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = graft.text.Dedup.dedupCorpus(docs, pairs, "doc_id")
    val plan = planString(kept)
    plan should include("BroadcastHashJoin")
    // the corpus never shuffles: the cluster labels arrive as a local
    // table (small-graph fast path) under a broadcast exchange, so the
    // final plan has NO hash exchange at all (the CC iteration's
    // shuffles, if any, happen on the checkpointed edge list upstream)
    plan should not include "Exchange hashpartitioning"
  }

  test("gopherRules and redactPii are single projections — no shuffle, no UDF") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"some text $i with the and of"))
      .toDF("doc_id", "text")
    for (df <- Seq(
        graft.text.TextAnalysis.gopherRules(docs, "text", "doc_id"),
        graft.text.TextAnalysis.redactPii(docs, "text", "doc_id"))) {
      val plan = planString(df)
      plan should not include "Exchange"
      plan should not include "BatchEvalPython"
      plan should not include "ScalaUDF"
    }
  }

  test("LM scoring joins the Zipf-sized gram table, never crosses the corpus") {
    import spark.implicits._
    val docs = (0L until 30L).map(i =>
      (i, s"alpha beta gamma delta w$i")).toDF("doc_id", "text")
    val lm = graft.text.LanguageModel.trainBigramLm(docs, "text")
    val plan = planString(
      graft.text.LanguageModel.scoreBigramLm(docs, lm, "text", "doc_id"))
    // the doc side reaches the join as narrow exploded (id, gram) rows
    // through a hash/sort-merge join on the gram key — no cartesian, no
    // full-text columns crossing the exchange
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("Generate") // the bigram explode
  }

  test("dedupParagraphs: two narrow shuffles (digest window + doc regroup), no join") {
    import spark.implicits._
    val docs = (0L until 20L).map(i =>
      (i, s"para a$i\n\nshared common paragraph\n\npara b$i"))
      .toDF("doc_id", "text")
    val out = graft.text.Dedup.dedupParagraphs(docs, "text", "doc_id")
    val plan = planString(out)
    plan should not include "Join"
    // exactly two hash exchanges: one keyed on the paragraph digest for
    // the first-occurrence window, one on the doc id for reassembly —
    // both over narrow exploded rows, never the full documents
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    plan should include("Window")
  }

  test("bm25: term filter runs map-side before the only two shuffles") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"spark and other words w$i spark")).toDF("doc_id", "text")
    val plan = planString(
      graft.text.Search.bm25(docs, "text", "doc_id", Seq("spark", "merge")))
    // idf arrives as a literal map, df as driver literals — no join
    // anywhere; the exploded token stream filters to the term set before
    // the (doc, term) aggregation exchange, and the per-doc rollup adds
    // the second
    plan should not include "Join"
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    val gen = plan.indexOf("Generate explode")
    val filt = plan.indexOf("_t#")
    gen should be >= 0
    withClue(plan) { plan should include("IN (spark,merge)") }
  }

  test("persisted search index: the query probes ONLY its terms' bucket " +
      "directories of the postings store") {
    import spark.implicits._
    val vocab = (0 until 64).map(i => s"term$i")
    val rnd = new scala.util.Random(13)
    val docs = (0L until 80L).map(i =>
      (i, Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("search-prune").toString
    graft.text.Search.writeSearchIndex(docs, "text", "doc_id",
      s"$dir/idx", nBuckets = 8)
    val terms = Seq("term1", "term2")
    val served = graft.text.Search.bm25Indexed(spark, s"$dir/idx", terms)
    // expected bucket set, evaluated through the same murmur3 the build
    // and the probe use
    val expect = spark.range(1).select(array(terms.map(t =>
        pmod(hash(lit(t)), lit(8))): _*))
      .head().getSeq[Int](0).distinct.size
    def leaves(p: SparkPlan): Seq[SparkPlan] = p.collectLeaves().flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(q.plan)
      case l => Seq(l)
    }
    val scans = leaves(served.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.mkString.contains("postings") => f }
    scans should have size 1
    scans.head.selectedPartitions.partitionCount shouldBe expect
    val allDirs = spark.read.parquet(s"$dir/idx/postings")
      .select("p_bucket").distinct().count()
    expect.toLong should be < allDirs // pruning is real, not vacuous
  }

  test("Search.topK plans as TakeOrderedAndProject, no global sort") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"spark words w$i")).toDF("doc_id", "text")
    val plan = planString(graft.text.Search.topK(
      graft.text.Search.bm25(docs, "text", "doc_id", Seq("spark")),
      "doc_id", k = 5))
    plan should include("TakeOrderedAndProject")
    plan should not include "GlobalSort"
  }

  test("topNgrams is TakeOrdered — per-partition heaps, no global sort") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"a b c d e f w$i"))
      .toDF("doc_id", "text")
    val plan = planString(graft.text.Search.topNgrams(docs, "text", 3, 5))
    plan should include("TakeOrderedAndProject")
    plan should not include "Sort ["
  }

  test("capPerGroup: bounded TopKAgg pre-prune before the rank window") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"g${i % 4}", i * 2))
      .toDF("id", "g", "score")
    val plan = planString(graft.text.Sampling.capPerGroup(
      df, Seq("g"), col("score"), "id", 3))
    // the picked set comes from a PARTIAL (map-side) top-k aggregate —
    // a hot group contributes ≤ k rows per task to its only shuffle
    plan.toLowerCase should include("partial_topkagg")
    // survivors semi-join via broadcast: full rows never shuffle wide
    plan should include("BroadcastHashJoin")
    plan should include("LeftSemi")
    // the rank window still runs (duplicate-id exactness) but only over
    // the ≤ |groups|·k pruned rows
    plan should include("Window")
  }

  test("int8 quantization is a pure projection — no shuffle, no join") {
    import spark.implicits._
    val df = (0L until 20L).map(i =>
      (i, Array.fill(8)((i * 0.1).toFloat))).toDF("vec_id", "embedding")
    val plan = planString(
      graft.text.Similarity.quantizeInt8(df, "vec_id", "embedding"))
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("broadcast LM scorer plans with zero exchanges (stateless projection)") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"alpha beta w$i"))
      .toDF("doc_id", "text")
    val lm = graft.text.LanguageModel.trainBigramLm(docs, "text")
    val plan = planString(graft.text.LanguageModel
      .scoreBigramLmBroadcast(docs, lm, "text", "doc_id"))
    // the model rides in a broadcast variable, not a join: the scored
    // stream is scan -> mapPartitions -> serialize, nothing else
    plan should not include "Exchange"
    plan should not include "Join"
    plan should include("MapPartitions")
  }

  test("cdcChunkStats: id/chunk/digest-keyed narrow shuffles only, no join " +
      "before the final annotation") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"some words w$i again more"))
      .toDF("doc_id", "text")
    val plan = planString(
      graft.text.Dedup.cdcChunkStats(docs, "text", "doc_id"))
    // 4 hash exchanges: doc window, chunk groupBy, digest window, doc
    // rollup — plus the final left join back to the id list
    "Exchange hashpartitioning".r.findAllIn(plan).size should be <= 5
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("semDedup: dropped set broadcasts back; corpus side never shuffles") {
    import spark.implicits._
    val df = (0L until 30L).map(i =>
      (i, Array(math.cos(i * 0.2).toFloat, math.sin(i * 0.2).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "_centroid")
    val plan = planString(graft.text.Similarity.semDedup(
      df, "vec_id", "embedding", tau = 0.999,
      centroidsOverride = Some(cents)))
    // assignment is a literal-argmin projection and the dropped ids are
    // a checkpointed local table under a broadcast exchange — the final
    // annotated corpus has NO hash exchange at all
    plan should include("BroadcastHashJoin")
    plan should not include "Exchange hashpartitioning"
  }

  test("temperatureSample output is a pure filter — no join, no shuffle") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i < 90) "web" else "books"))
      .toDF("doc_id", "source")
    val plan = planString(graft.text.Sampling
      .temperatureSample(df, "source", "doc_id", 0.5, 50L))
    // rates become literals in a when-chain after the bounded count
    // aggregation; the sample itself never joins or shuffles
    plan should not include "Join"
    plan should not include "Exchange"
  }

  test("unimaxSample output is a pure filter — no join, no shuffle") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i < 90) "web" else "books"))
      .toDF("doc_id", "source")
    val plan = planString(graft.text.Sampling
      .unimaxSample(df, "source", "doc_id", budget = 40L))
    // water-filled rates become literals in a when-chain after the
    // bounded count aggregation; the sample never joins or shuffles
    plan should not include "Join"
    plan should not include "Exchange"
  }

  test("exact decontamination stream gate is a stateless projection") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"w$i common words here"))
      .toDF("doc_id", "text")
    val plan = planString(graft.streaming.StreamingOps
      .decontaminateStream(docs, Array(1L, 2L, 3L), "text", "doc_id"))
    // the eval hash set is a literal array probed per row: no exchange,
    // no join, no aggregation — what makes it append-legal streaming
    plan should not include "Join"
    plan should not include "Exchange"
    plan should not include "Aggregate"
  }

  test("DSIR top-N selection plans as TakeOrderedAndProject, no global sort") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", s"alpha beta w$i gamma delta"))
      .toDF("doc_id", "lang", "text")
    val grams = docs.select(col("doc_id"), col("lang"),
      explode(graft.text.LanguageModel.bigrams(col("text"))).as("gram"))
    val lmT = graft.text.LanguageModel
      .trainBigramLmFromGrams(grams.where(col("lang") === "en"))
    val lmB = graft.text.LanguageModel.trainBigramLmFromGrams(grams)
    val plan = planString(graft.text.LanguageModel
      .importanceWeightsFromGrams(grams, lmT, lmB, "doc_id")
      .orderBy(col("log_ratio").desc, col("doc_id")).limit(10))
    plan should include("TakeOrderedAndProject")
    plan should not include "Sort ["
  }

  test("calibrationBins is one partial+final aggregation to nBins rows") {
    import spark.implicits._
    val scored = (0L until 200L).map(i =>
      (i, (i % 100) / 100.0, (i % 2).toDouble)).toDF("id", "score", "y")
    val plan = planString(graft.text.Classifier
      .calibrationBins(scored, "score", "y", 10))
    // map-side combine collapses the corpus before its only exchange
    plan.toLowerCase should include("partial_count")
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should not include "Join"
  }

  test("fertilityByGroup: two corpus collapses joined vocab-sized, no corpus join") {
    import spark.implicits._
    val docs = (0L until 50L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", s"alpha beta w$i gamma"))
      .toDF("doc_id", "lang", "text")
    val plan = planString(graft.text.Bpe
      .fertilityByGroup(docs, "text", "lang", Seq("a l", "b e")))
    // both sides of the join are already aggregated (vocab-sized) —
    // the corpus itself never joins; counts are partial+final
    plan.toLowerCase should include("partial_count")
    val joinIdx = plan.indexOf("Join")
    joinIdx should be >= 0
    // at least one aggregate sits BELOW the join on each side: the join
    // inputs are the (group, word) and (word) count tables, not scans
    plan.substring(joinIdx).split("\n").count(_.contains("HashAggregate")) should be >= 2
  }

  test("hllDistinct shuffles only register rows: two partial+final aggs") {
    import spark.implicits._
    val df = (0L until 500L).map(i => ("g", s"tok$i")).toDF("g", "v")
    val plan = planString(graft.text.Sketches
      .hllDistinct(df, col("v"), Seq("g")))
    // (group, register) max then group estimate — the only exchanges are
    // the two hash aggregations, both map-side combined; value rows
    // never cross a shuffle un-reduced
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 2
    plan should include("partial_max")
  }

  test("cmsFrequencyTokens: sketch aggregates map-side; probe join " +
      "broadcasts") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"alpha beta tok$i"))
      .toDF("doc_id", "text")
    val plan = planString(graft.text.Sketches
      .cmsFrequencyTokens(docs, "text", Seq("alpha", "beta")))
    // the d*w-bounded sketch is the only corpus-scale aggregation; the
    // tiny probe-bucket table joins it broadcast, and the final min is
    // over |probes| x d rows
    plan should include("BroadcastHashJoin")
    plan should include("partial_count")
    plan.split("Exchange hashpartitioning").length - 1 should be <= 2
  }

  test("incremental dedup: cross-side join carries band rows; verify " +
      "shingles only for candidate ids") {
    import spark.implicits._
    val mk = (n: Int, off: Long) => (0 until n).map(i =>
      (off + i, s"document body $i ${"filler token " * 20}"))
      .toDF("doc_id", "text")
    // the incoming shard's distinct band keys broadcast-semi-join the
    // reference band table before the cross join (asserted on the
    // candidate stage, which executes during construction)
    val rb = graft.text.Dedup.minhashLshIncremental(
      mk(40, 0L), mk(10, 1000L), "text", "doc_id")
    val plan = planString(rb)
    // the result is a localCheckpoint of the verified pairs — upstream
    // shapes (band join on 24-byte rows, semi-joined shingle verify)
    // execute during construction; what remains must be the bounded
    // checkpointed table, never a corpus-scale recomputation
    plan should include("Scan ExistingRDD")
    plan should not include "Exchange"
  }

  test("prefix similarity join: equi-join candidate space, never a " +
      "cartesian or nested-loop pair blow-up") {
    import spark.implicits._
    val docs = (0L until 50L).map(i =>
      (i, s"some document body $i ${"shared filler tokens " * 10}"))
      .toDF("doc_id", "text")
    val plan = planString(graft.text.Dedup.ngramJaccardPairsPrefix(
      docs, "text", "doc_id"))
    // the candidate join is keyed on the 8-byte prefix-shingle hash —
    // a pure equi-join; any nested-loop form means the prefix filter
    // degenerated to all-pairs
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("tok")
  }

  test("stripBoilerplate: breadth table broadcast-anti-joins; paragraph " +
      "stream never hash-shuffles for the join") {
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, s"body $i\n\nshared footer")).toDF("doc_id", "text")
    val plan = planString(graft.text.Dedup.stripBoilerplate(
      docs, "text", "doc_id", minDocs = 3L))
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    // exchanges: the digest-breadth aggregate (partial+final x2 for the
    // distinct) and the per-doc reassembly — the anti-join itself adds
    // none
    plan should not include "SortMergeJoin"
  }

  test("evaluation tier: PR fan-out and grouped AUC never join the " +
      "corpus; rollup is one grouping-sets aggregate") {
    import spark.implicits._
    val scored = (0L until 200L).map(i =>
      ("s" + (i % 4), i / 200.0, (i % 2).toDouble))
      .toDF("source", "score", "y")
    // PR table: explode fan-out + ONE partial+final aggregation
    val pr = planString(graft.text.Classifier.prAtThresholds(
      scored, "score", "y", Seq(0.25, 0.5, 0.75)))
    pr should not include "Join"
    pr should include("partial_")
    pr.split("Exchange hashpartitioning").length - 1 shouldBe 1
    // grouped AUC: two aggs + a group-partitioned window, no join
    val auc = planString(graft.text.Classifier.aucScoreBy(
      scored, "score", "y", Seq("source")))
    auc should not include "Join"
    auc should include("Window")
    // rollup: grouping sets expand into ONE aggregate pass
    val docs = (0L until 50L).map(i =>
      (i, "l" + (i % 3), "s" + (i % 2), 10L, "a b c")).toDF(
      "doc_id", "lang", "source", "n_chars", "text")
    val ru = planString(docs.rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs")))
    ru should include("Expand")
    ru.split("Exchange hashpartitioning").length - 1 shouldBe 1
  }

  test("diversifyPrototypes: literal-centroid projection + ONE " +
      "cluster-keyed window exchange, no join") {
    import spark.implicits._
    val df = (0L until 40L).map(i =>
      (i, Array(i.toFloat, (i % 7).toFloat))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "_centroid")
    val plan = planString(graft.text.Similarity.diversifyPrototypes(
      df, "vec_id", "embedding", centroidsOverride = Some(cents)))
    // assignment + proto are literal codegen expressions over the scan;
    // the only exchange is the cluster partition for the rank window
    plan.split("Exchange").length - 1 shouldBe 1
    plan should not include "Join"
    plan should include("Window")
  }

  test("PCA: gram pass partial-aggregates to one bounded row per task; " +
      "projection is a pure literal map") {
    import spark.implicits._
    val df = (0L until 40L).map(i =>
      (i, Array(i.toFloat, (i % 5).toFloat, 1.0f))).toDF("vec_id", "embedding")
    val gramPlan = planString(graft.text.Pca.gramMatrix(df, "embedding", 3))
    // the Aggregator must run with a partial (map-side) phase so only
    // nPartitions single-row buffers cross the exchange
    gramPlan should include("partial_gramagg")
    gramPlan should not include "Join"
    val projPlan = planString(graft.text.Pca.project(df, "vec_id",
      "embedding", Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))))
    projPlan should not include "Exchange"
    projPlan should not include "Join"
  }

  test("randomProject is a pure projection — no shuffle, no join") {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, Array.fill(64)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val plan = planString(graft.text.Similarity
      .randomProject(df, "vec_id", "embedding", 64, 16))
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("asofJoin is ONE exchange over the union — no join node, no " +
      "per-key pair blow-up") {
    import spark.implicits._
    val l = (1 to 50).map(i => (i.toLong, s"u${i % 5}",
      new java.sql.Timestamp(i * 60000L))).toDF("id", "user", "ts")
    val r = (1 to 50).map(i => (s"u${i % 5}",
      new java.sql.Timestamp(i * 45000L), i.toDouble)).toDF("user", "rts", "rv")
    val plan = planString(graft.ops.TableJoins.asofJoin(
      l, r, Seq("user"), "ts", "rts", Seq("rv")))
    // the naive formulation would show a SortMergeJoin/BroadcastHashJoin
    // + a second window pass; the union-window shape has NO join operator
    plan should not include "Join"
    // exactly one hash-partitioning exchange on the key feeds the window
    // (the right side's dedup agg reuses the same partitioning upstream)
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 2
    plan should include("Window")
  }

  test("rangeJoin plans as an equi-join on the bin key — never " +
      "BroadcastNestedLoop / Cartesian") {
    import spark.implicits._
    val p = (1 to 100).map(i => (i.toLong,
      new java.sql.Timestamp(i * 60000L))).toDF("pid", "pts")
    val iv = (1 to 30).map(i => (i.toLong,
      new java.sql.Timestamp(i * 120000L),
      new java.sql.Timestamp(i * 120000L + 600000L))).toDF("iid", "lo", "hi")
    // defeat auto-broadcast so the assertion is about the JOIN KEY shape,
    // not the small fixture size
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = planString(graft.ops.TableJoins.rangeJoin(
        p, iv, "pts", "lo", "hi", binMicros = 600L * 1000000))
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "CartesianProduct"
      plan should include("SortMergeJoin")
      plan should include("_bin")
    }
  }

  test("bucketed co-located join elides BOTH exchanges (shuffle paid once " +
      "at write time)") {
    import spark.implicits._
    val a = (1 to 200).map(i => (i.toLong % 40, i.toLong)).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong % 40, i.toDouble)).toDF("k", "vb")
    graft.ops.Bucketed.writeBucketed(a, "pq_bkt_a", Seq("k"), 4)
    graft.ops.Bucketed.writeBucketed(b, "pq_bkt_b", Seq("k"), 4)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = graft.ops.Bucketed.bucketedJoin(spark, "pq_bkt_a", "pq_bkt_b",
        Seq("k"))
      val plan = planString(j)
      plan should include("SortMergeJoin")
      plan should not include "Exchange"
      // and the result is the plain join
      j.count() shouldBe 200L * 100 / 40
    }
  }

  test("writeBucketed with a database-qualified name never touches the " +
      "warehouse path its unqualified reconstruction would point at") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bdb")
    try {
      // an unrelated dataset whose directory happens to match the naive
      // warehouse.dir + name.toLowerCase reconstruction of `db.tbl`
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val decoy = new org.apache.hadoop.fs.Path(wh, "graft_bdb.pq_bkt_q")
      val fs = decoy.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(decoy)
      val sentinel = new org.apache.hadoop.fs.Path(decoy, "sentinel")
      fs.create(sentinel).close()
      val df = (1 to 50).map(i => (i.toLong % 10, i.toLong)).toDF("k", "v")
      graft.ops.Bucketed.writeBucketed(df, "graft_bdb.pq_bkt_q", Seq("k"), 2)
      // rewrite over a LIVE qualified table resolves through the catalog
      graft.ops.Bucketed.writeBucketed(df, "graft_bdb.pq_bkt_q", Seq("k"), 2)
      spark.table("graft_bdb.pq_bkt_q").count() shouldBe 50
      fs.exists(sentinel) shouldBe true
      fs.delete(decoy, true)
      // an UNQUALIFIED write under a non-default CURRENT database must
      // target graft_bdb's directory, not default's warehouse/<name>
      val defDecoy = new org.apache.hadoop.fs.Path(wh, "pq_bkt_cur")
      fs.mkdirs(defDecoy)
      val defSentinel = new org.apache.hadoop.fs.Path(defDecoy, "sentinel")
      fs.create(defSentinel).close()
      spark.catalog.setCurrentDatabase("graft_bdb")
      try {
        graft.ops.Bucketed.writeBucketed(df, "pq_bkt_cur", Seq("k"), 2)
        spark.table("graft_bdb.pq_bkt_cur").count() shouldBe 50
        fs.exists(defSentinel) shouldBe true
      } finally spark.catalog.setCurrentDatabase("default")
      fs.delete(defDecoy, true)
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP DATABASE IF EXISTS graft_bdb CASCADE")
    }
  }

  test("tpch q1 shape: shipdate filter pushed to the scan; partial+final " +
      "hash aggregate (map-side combine before the only exchange)") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_tpch_q1")(spark, dir))
    plan should include("PushedFilters")
    plan should include("LessThanOrEqual(l_shipdate")
    plan.toLowerCase should include("partial_sum")
    // one exchange total: scan → partial agg → shuffle(6 keys) → final
    plan.split("Exchange").length - 1 shouldBe 1
  }

  test("tpch q6 shape: all three predicates reach the scan; single-row " +
      "global aggregate with partial sums") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_tpch_q6")(spark, dir))
    plan should include("GreaterThanOrEqual(l_shipdate")
    plan should include("LessThan(l_shipdate")
    plan should include("GreaterThanOrEqual(l_discount")
    plan should include("LessThan(l_quantity")
    plan.toLowerCase should include("partial_sum")
  }

  test("tpch q4/q18/q22 shapes: EXISTS/HAVING-IN/NOT-EXISTS run as " +
      "semi/anti joins — no row inflation, no distinct pass, no cartesian") {
    val dir = "/root/testdata/sf0.001"
    val q4 = planString(SparkEntry.queries("q_tpch_q4")(spark, dir))
    q4 should include("LeftSemi")
    q4 should not include "CartesianProduct"
    val q18 = planString(SparkEntry.queries("q_tpch_q18")(spark, dir))
    q18 should include("LeftSemi")
    q18.toLowerCase should include("partial_sum") // HAVING agg map-side combined
    val q22 = planString(SparkEntry.queries("q_tpch_q22")(spark, dir))
    q22 should include("LeftAnti")
    q22 should not include "CartesianProduct"
  }

  test("tpch q7 shape: one big-side SMJ (lineitem orders), every dim " +
      "broadcast, shipdate range pushed") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_tpch_q7")(spark, dir))
    plan.split("BroadcastHashJoin").length - 1 should be >= 4
    plan should not include "CartesianProduct"
    plan should include("GreaterThanOrEqual(l_shipdate")
    plan should include("LessThanOrEqual(l_shipdate")
  }

  test("tpch q14/q19 shapes: part dim broadcasts; q19's OR-of-brackets " +
      "still extracts the equi-key (no cartesian)") {
    val dir = "/root/testdata/sf0.001"
    val q14 = planString(SparkEntry.queries("q_tpch_q14")(spark, dir))
    q14 should include("BroadcastHashJoin")
    q14.toLowerCase should include("partial_sum")
    val q19 = planString(SparkEntry.queries("q_tpch_q19")(spark, dir))
    q19 should include("BroadcastHashJoin")
    q19 should not include "CartesianProduct"
    q19 should not include "BroadcastNestedLoopJoin"
  }

  test("tpch q3 shape: top-10 runs as TakeOrderedAndProject; the customer " +
      "dim broadcasts; filters reach all three scans") {
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_tpch_q3")(spark, dir))
    plan should include("TakeOrderedAndProject")
    plan should include("BroadcastHashJoin")
    plan should not include "GlobalSort"
    plan.split("PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|EqualTo)")
      .length - 1 should be >= 3
  }

  test("tpch q17/q20 shapes: correlated scalar-aggregate subqueries run " +
      "as decorrelated aggregates joined back — no per-row re-scan") {
    val dir = "/root/testdata/sf0.001"
    val q17 = planString(SparkEntry.queries("q_tpch_q17")(spark, dir))
    q17.toLowerCase should include("partial_sum")
    q17 should include("BroadcastHashJoin") // brand-filtered part dim
    q17 should not include "CartesianProduct"
    // decorrelated: a CONSTANT number of scans (the filtered lineitem
    // branch feeds both the per-part aggregate and the probe) — never
    // one re-scan per part value
    q17.split("FileScan").length - 1 should be <= 4
    val q20 = planString(SparkEntry.queries("q_tpch_q20")(spark, dir))
    q20.split("LeftSemi").length - 1 should be >= 2
    q20 should not include "CartesianProduct"
    q20.toLowerCase should include("partial_sum")
  }

  test("tpch q21 shape: EXISTS + NOT EXISTS over self-joined lineitem = " +
      "LeftSemi + LeftAnti in one pass each, never cartesian") {
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_tpch_q21")(spark, dir))
    plan should include("LeftSemi")
    plan should include("LeftAnti")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("TakeOrderedAndProject") // top-100, no global sort
  }

  test("tpch q2/q15 shapes: MIN/MAX scalar subqueries decorrelate to one " +
      "aggregate joined back; q2's top-100 is TakeOrderedAndProject") {
    val dir = "/root/testdata/sf0.001"
    val q2 = planString(SparkEntry.queries("q_tpch_q2")(spark, dir))
    q2 should include("TakeOrderedAndProject")
    q2 should include("BroadcastHashJoin")
    q2 should not include "CartesianProduct"
    // decorrelated as a WINDOW min over the aggregate: ONE scan of each
    // of the five tables (a join-back formulation re-scans all five)
    q2.split("FileScan").length - 1 shouldBe 5
    q2 should include("Window")
    val q15 = planString(SparkEntry.queries("q_tpch_q15")(spark, dir))
    q15 should include("BroadcastHashJoin") // 1-row max joined by equality
    q15 should not include "CartesianProduct"
    q15.toLowerCase should include("partial_sum")
  }

  test("tpch q8/q9 shapes: pure filters ride semi joins / broadcast dims, " +
      "conditional decimal sums aggregate in one pass") {
    val dir = "/root/testdata/sf0.001"
    val q8 = planString(SparkEntry.queries("q_tpch_q8")(spark, dir))
    q8 should include("LeftSemi") // part-type and customer-region filters
    q8.split("BroadcastHashJoin").length - 1 should be >= 3
    q8 should not include "CartesianProduct"
    q8.toLowerCase should include("partial_sum") // num+den in one agg pass
    val q9 = planString(SparkEntry.queries("q_tpch_q9")(spark, dir))
    q9.split("BroadcastHashJoin").length - 1 should be >= 2
    q9 should not include "CartesianProduct"
    q9.toLowerCase should include("partial_sum")
  }

  test("tpch q11 shape: the global total is ONE aggregate broadcast as a " +
      "single row — never a per-group re-scan") {
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_tpch_q11")(spark, dir))
    // the keyless 1-row total joins via exactly one broadcast nested
    // loop (the correct plan for a scalar); the semi-filtered lineitem
    // scan feeds both the per-part aggregate and the total
    plan.split("BroadcastNestedLoopJoin").length - 1 shouldBe 1
    plan should include("LeftSemi")
    plan.toLowerCase should include("partial_sum")
    plan should not include "CartesianProduct"
  }

  test("tpch q12/q13/q16 shapes: conditional-count pair in one pass; LEFT " +
      "OUTER survives; NOT IN runs as broadcast LeftAnti") {
    val dir = "/root/testdata/sf0.001"
    val q12 = planString(SparkEntry.queries("q_tpch_q12")(spark, dir))
    q12.toLowerCase should include("partial_sum") // both CASE sums map-side
    q12 should not include "CartesianProduct"
    val q13 = planString(SparkEntry.queries("q_tpch_q13")(spark, dir))
    q13 should include("LeftOuter") // zero-order customers survive
    q13.toLowerCase should include("partial_count")
    val q16 = planString(SparkEntry.queries("q_tpch_q16")(spark, dir))
    q16 should include("LeftAnti") // NOT IN, never the null-aware cliff
    q16 should not include "CartesianProduct"
    q16 should not include "BroadcastNestedLoopJoin"
  }

  test("dimHint degrades to a shuffle join (not an error, not a forced " +
      "broadcast) when the dim exceeds the broadcast threshold") {
    val dir = "/root/testdata/sf0.001"
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      // every "dim" is now too large to broadcast: the hard hint would
      // force an OOM-or-spill plan at 100 TB; the guard must let the
      // planner fall back to SMJ and the query still run
      val df = SparkEntry.queries("q_tpch_q7")(spark, dir)
      val plan = planString(df)
      plan should not include "BroadcastHashJoin"
      plan should include("SortMergeJoin")
      df.count() should be >= 0L
    }
  }

  test("writeCubeStore spreads a single-day ingest across ~filesPerDir " +
      "writer tasks per directory (bounded salt), never one") {
    import spark.implicits._
    // ONE day — partition cardinality 1, the shape that serialized pre-salt
    val rows = for { b <- Seq("B04"); y <- 0 until 40; x <- 0 until 40 }
      yield (ts("2022-06-01 00:00:00"), b, y.toDouble, x.toDouble, 1.0)
    val c = Cube(rows.toDF("time", "band", "y", "x", "value"),
      CubeMeta(grid = Some(GridRef(0, 0, 1, 1))))
    val dir = java.nio.file.Files.createTempDirectory("salt-store").toString
    // AQE's size-based coalescing rightly merges this toy shuffle into
    // one task (partitions are far under the advisory size — at 100 TB
    // they aren't, and the salt's key-space is what bounds the merge).
    // Pin the raw key-space spread:
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      graft.ops.Sinks.writeCubeStore(c, s"$dir/st", filesPerDir = 8)
    }
    val dayDir = new java.io.File(s"$dir/st/p_date=2022-06-01")
    val files = dayDir.listFiles().count(_.getName.endsWith(".parquet"))
    // one file per writer task touching the dir: ≥ half the requested
    // spread (hash collisions of 8 salts into 32 reducers can merge a
    // few), ≤ the bound (small-file cap intact)
    files should be >= 4
    files should be <= 8
    // round-trip: the salt is layout-only, rows unchanged
    Scan.loadCollection(spark, Scan.CollectionSpec(s"$dir/st",
      grid = Some(GridRef(0, 0, 1, 1)))).df.count() shouldBe 1600L
  }

  test("funnel reuses one key partitioning across stages — no " +
      "per-stage reshuffle of the accumulator") {
    import spark.implicits._
    val ev = (1 to 300).map(i => (i.toLong % 20,
      Seq("signup", "click", "purchase")(i % 3),
      new java.sql.Timestamp(i * 60000L))).toDF("user_id", "event_type", "ts")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = planString(graft.ops.Funnel.funnel(ev, "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase")))
      // 3 stage aggregations each need the stage's events partitioned on
      // the key (3 exchanges); the accumulator side must NOT re-exchange
      // between stages: ≤ 4 total, not 6+
      plan.split("Exchange hashpartitioning").length - 1 should be <= 4
    }
  }

  test("saltedJoin under real 90%-hot skew (sf0.1): hot-key rows spread " +
      "across >= saltFactor tasks with bounded per-task share") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.1"
    val ev = SparkEntry.readEvents(spark, dir)
    // 90% of rows share one key — the straggler shape AQE's skew join
    // handles for SMJ and saltedJoin handles plan-stably
    val l = ev.select(
      when(pmod(col("event_id"), lit(10)) < 9, lit("hot"))
        .otherwise(concat(lit("k"), col("user_id"))).as("key"),
      col("event_id"), col("value"))
    val r = l.select("key").distinct().withColumn("w", lit(1.0))
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "256") {
      val saltFactor = 8
      def hotSpread(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
        df.where(col("key") === "hot")
          .withColumn("pid", spark_partition_id())
          .groupBy("pid").count()
          .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      // the unsalted join concentrates every hot row in ONE task
      hotSpread(l.join(r, Seq("key"))).size shouldBe 1
      // the salted join's (keys, salt) exchange spreads them: the hot key
      // owns saltFactor (key, salt) combos, hashed over 256 partitions
      // so combo collisions are unlikely; every combo must land in its
      // own task and no task may hold more than 2/saltFactor of the
      // hot rows
      val salted = hotSpread(
        graft.ops.TableJoins.saltedJoin(l, r, Seq("key"), saltFactor))
      salted.size should be >= saltFactor
      val total = salted.values.sum
      total shouldBe hotSpread(l.join(r, Seq("key"))).values.sum
      salted.values.max.toDouble / total should be <= (2.0 / saltFactor)
    }
  }

  test("AQE skew join splits the hot partition at runtime — the preferred " +
      "path when AQE is on; saltedJoin is the plan-stable fallback") {
    // the canonical skewed fact⋈fact shape (Spark's own
    // AdaptiveQueryExecSuite construction): a quarter of each side
    // collapses onto one key, stored as multi-split parquet so skew
    // splitting has mapper granularity to work with; sub-KB thresholds
    // put the test's tiny data in the same regime a TB-scale shuffle
    // occupies under the 256 MB defaults
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("aqeskew").toString
    spark.range(0, 1000, 1, 10)
      .select(when(col("id") < 250, 249).otherwise(col("id")).as("key1"),
        col("id").as("value1"))
      .write.mode("overwrite").parquet(s"$base/l")
    spark.range(0, 1000, 1, 10)
      .select(when(col("id") < 250, 249).otherwise(col("id")).as("key2"),
        col("id").as("value2"))
      .write.mode("overwrite").parquet(s"$base/r")
    val l = spark.read.parquet(s"$base/l")
    val r = spark.read.parquet(s"$base/r")
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "800",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "800",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "100") {
      val j = l.join(r, col("key1") === col("key2"))
      // collect() executes THIS df's QueryExecution, finalizing the
      // adaptive plan (count() would spawn a separate execution)
      j.collect().length shouldBe 250 * 250 + 750 // hot square + diagonal
      val plan = j.queryExecution.executedPlan.toString
      plan should include("isFinalPlan=true")
      plan should include("skew=true") // the hot partition was SPLIT
    }
  }

  test("rollup: ONE fact scan feeds a base pre-aggregate, and Expand " +
      "multiplies only the tiny aggregate — never the fact stream or " +
      "a scan per grouping set") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q_rollup")(spark, dir)
    val plan = planString(df)
    plan.split("FileScan").length - 1 shouldBe 1
    plan.split("Expand").length - 1 shouldBe 1
    plan.toLowerCase should include("partial_sum")
    // two exchanges: the fact pre-aggregate and the rollup of its ~10
    // rows — the Expand row-multiplication happens ABOVE the first
    // aggregate (pinned structurally: Expand's subtree contains the
    // base HashAggregate, so the fact stream is never expanded)
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 2
    val expand = df.queryExecution.optimizedPlan.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    expand.isDefined shouldBe true
    // the Expand node's child plan already aggregated the fact table
    expand.get.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined shouldBe true
  }

  test("drift movers plans as TakeOrderedAndProject over the joined " +
      "count table — bounded heaps, no global sort") {
    val dir = "/root/testdata/sf0.001"
    val plan = planString(SparkEntry.queries("q_drift_movers")(spark, dir))
    plan should include("TakeOrderedAndProject")
    plan should not include "GlobalSort"
  }

  test("persisted IVF store: serving scans ONLY the probed centroid " +
      "directories; results equal the in-memory IVF") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0L until 64L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-store").toString
    graft.text.Similarity.writeIvfStore(df, "vec_id", "embedding",
      s"$dir/idx", nCentroids = 8)
    val queries = df.where(col("vec_id") === 0L)
    val served = graft.text.Similarity.topKIvfStore(spark, s"$dir/idx",
      queries, "vec_id", "embedding", k = 3, nProbe = 2)
    val mem = graft.text.Similarity.topKIvf(df, queries, "vec_id",
      "embedding", k = 3, nCentroids = 8, nProbe = 2)
    rowSet(served) shouldBe rowSet(mem)
    // the probed-cell isin lands as a PARTITION filter on the assigned
    // scan — one query × nProbe=2 → exactly 2 of the cell directories
    // are listed; the full store has more (pruning is real, and at a
    // corpus scale it makes nProbe/nCentroids a scan-BYTES fraction)
    def leaves(p: SparkPlan): Seq[SparkPlan] = p.collectLeaves().flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(q.plan)
      case l => Seq(l)
    }
    val scans = leaves(served.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.mkString.contains("assigned") => f }
    scans should have size 1
    scans.head.selectedPartitions.partitionCount shouldBe 2
    val allDirs = spark.read.parquet(s"$dir/idx/assigned")
      .queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    allDirs should be > 2
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bitmap aggregation: partial ObjectHashAggregate below ONE hash " +
      "exchange — sketches cross the shuffle, never row sets") {
    import spark.implicits._
    import graft.functions.BitmapExprs._
    val df = (1 to 1000).map(i => (i % 5, i.toLong % 97)).toDF("g", "u")
      .groupBy("g").agg(bitmapCount(bitmapAgg(col("u"))).as("n"))
    val plan = planString(df)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial mode below the exchange (map-side sketch build)
    plan should include("ObjectHashAggregate")
    plan.split("Exchange hashpartitioning").length - 1 shouldBe 1
    val beforeFinal = plan.substring(plan.indexOf("ObjectHashAggregate"))
    beforeFinal should include("Exchange hashpartitioning")
    // the rollup face re-aggregates sketches the same way
    val daily = (1 to 1000).map(i => (i % 7, i % 3, i.toLong % 53))
      .toDF("d", "g", "u").groupBy("d", "g")
      .agg(bitmapAgg(col("u")).as("s"))
    val roll = planString(daily.groupBy("g")
      .agg(bitmapCount(bitmapUnionAgg(col("s")))))
    roll should include("ObjectHashAggregate")
    roll.toLowerCase should include("partial")
  }

  test("PERSISTED bitmap cube: union-rollup over the V2 snapshot scan " +
      "keeps partial sketch aggregation below exactly ONE exchange — " +
      "the 100 TB cube read path never reshuffles raw sketches twice") {
    import spark.implicits._
    import graft.functions.BitmapExprs._
    val p = java.nio.file.Files
      .createTempDirectory("graft_bmplan_").toString + "/cube"
    val daily = (1 to 2000).map(i => (i % 7, i % 3, i.toLong % 211))
      .toDF("d", "g", "u").groupBy("d", "g")
      .agg(bitmapAgg(col("u")).as("s"))
    graft.ops.Snapshots.append(daily, p)
    val cube = spark.read.format("graft-snapshot").load(p)
    val roll = cube.groupBy("g")
      .agg(bitmapCount(bitmapUnionAgg(col("s"))).as("n"))
    val plan = planString(roll)
    // partial ObjectHashAggregate sits ON the scan; one hash exchange
    // carries per-group sketches (bytes), never member sets
    plan should include("ObjectHashAggregate")
    plan.toLowerCase should include("partial")
    (plan.split("Exchange").length - 1) shouldBe 1
    // and the rollup answers EXACTLY what raw recomputation answers
    val fromCube = roll.as[(Int, Long)].collect().toMap
    val fromRaw = (1 to 2000).map(i => (i % 3, i.toLong % 211))
      .groupBy(_._1).map { case (g, xs) =>
        g -> xs.map(_._2).distinct.size.toLong }
    fromCube shouldBe fromRaw
  }

  test("q_text_unicode is a shuffle-free map-side projection (r13): " +
      "NFKC fold + script counts add no exchange, and the parquet " +
      "scan reads only the two consumed columns") {
    val df = graft.SparkEntry.queries("q_text_unicode")(
      spark, "/root/testdata/sf0.001")
    val plan = planString(df)
    plan should not include "Exchange"
    // column pruning reaches the scan: only doc_id + text are consumed
    plan should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }
}
