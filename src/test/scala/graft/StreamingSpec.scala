package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def feed(rows: Seq[(Timestamp, String, Double, Double, Double)],
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      queryName: String): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
    val df = build(stream.toDF()
      .toDF("time", "band", "y", "x", "value"))
    val q = df.writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    stream.addData(rows)
    q.processAllAvailable()
    // advance watermark far enough to close all windows, then flush
    stream.addData(Seq((ts("2030-01-01 00:00:00"), "zz", 0.0, 0.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  test("streaming aggregate_temporal_period emits closed daily windows") {
    val rows = Seq(
      (ts("2024-01-01 01:00:00"), "click", 0.0, 0.0, 10.0),
      (ts("2024-01-01 23:00:00"), "click", 0.0, 0.0, 30.0),
      (ts("2024-01-02 02:00:00"), "click", 0.0, 0.0, 7.0))
    val out = feed(rows,
      df => StreamingOps.aggregateTemporalPeriodStream(df, "day", "max"),
      "daily_max")
    val m = out.where(col("band") === "click").collect()
      .map(r => r.getTimestamp(0).toString.take(10) -> r.getDouble(4)).toMap
    m("2024-01-01") shouldBe 30.0
    m("2024-01-02") shouldBe 7.0
  }

  test("streaming labels match batch periodBucket for the same input") {
    val rows = Seq(
      (ts("2024-03-15 12:00:00"), "b", 0.0, 0.0, 1.0),
      (ts("2024-03-15 18:00:00"), "b", 0.0, 0.0, 5.0))
    val out = feed(rows,
      df => StreamingOps.aggregateTemporalPeriodStream(df, "day", "sum"),
      "daily_sum")
    val streamed = out.where(col("band") === "b").head()
    val batch = graft.ops.Reducers.aggregateTemporalPeriod(
      cubeOf(("2024-03-15", "b", 0.0, 0.0, 6.0)), "day", "sum")
    streamed.getTimestamp(0) shouldBe batch.df.head().getTimestamp(0)
    streamed.getDouble(4) shouldBe 6.0
  }

  test("streaming sessionization closes sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
    val out = StreamingOps.sessionizeStream(
      stream.toDF().toDF("time", "band", "y", "x", "value"),
      gapMs = 10 * 60 * 1000L, delay = "30 minutes")
    val q = out.toDF().writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    stream.addData(Seq(
      // pixel (0,0): two events 5 min apart (one session), then a 1-hour
      // gap starts a second session within the same batch
      (ts("2024-01-01 00:00:00"), "click", 0.0, 0.0, 1.0),
      (ts("2024-01-01 00:05:00"), "click", 0.0, 0.0, 2.0),
      (ts("2024-01-01 01:05:00"), "click", 0.0, 0.0, 5.0)))
    q.processAllAvailable()
    // advance the watermark past the open session's timeout
    stream.addData(Seq((ts("2024-01-01 09:00:00"), "zz", 9.0, 9.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions")
      .where(col("band") === "click").orderBy("start").collect()
    sessions.length shouldBe 2
    sessions(0).getAs[Long]("n_events") shouldBe 2
    sessions(0).getAs[Double]("sum_value") shouldBe 3.0
    sessions(0).getAs[Timestamp]("end").toString should startWith("2024-01-01 00:05")
    sessions(1).getAs[Long]("n_events") shouldBe 1
    sessions(1).getAs[Double]("sum_value") shouldBe 5.0
  }

  test("batch sessionization matches the streaming sessions on closed data") {
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), "click", 0.0, 0.0, 1.0),
      (ts("2024-01-01 00:05:00"), "click", 0.0, 0.0, 2.0),
      (ts("2024-01-01 01:05:00"), "click", 0.0, 0.0, 5.0),
      (ts("2024-01-01 00:00:00"), "view", 1.0, 2.0, 4.0))
    val gap = 10 * 60 * 1000L
    // streaming (all sessions closed by the flush row)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
    val q = StreamingOps.sessionizeStream(
      stream.toDF().toDF("time", "band", "y", "x", "value"), gap,
      delay = "30 minutes").toDF()
      .writeStream.format("memory").queryName("sess_cmp")
      .outputMode("append").start()
    stream.addData(rows)
    q.processAllAvailable()
    stream.addData(Seq((ts("2024-01-02 00:00:00"), "zz", 9.0, 9.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_cmp")
      .where(col("band") =!= "zz")
      .select("band", "y", "x", "start", "end", "n_events", "sum_value")
    // batch over the same rows
    val batch = StreamingOps.sessionizeBatch(
      rows.toDF("time", "band", "y", "x", "value"), gap)
      .select("band", "y", "x", "start", "end", "n_events", "sum_value")
    rowSet(batch) shouldBe rowSet(streamed)
  }

  test("sessionization output is independent of the micro-batch split") {
    val rows = (0 until 40).map { i =>
      (ts(f"2024-01-01 ${i / 4}%02d:${(i % 4) * 7}%02d:00"),
        "click", (i % 3).toDouble, 0.0, i.toDouble)
    }
    val flush = (ts("2024-02-01 00:00:00"), "zz", 9.0, 9.0, 0.0)
    def run(nBatches: Int, name: String) = {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
      val q = StreamingOps.sessionizeStream(
        stream.toDF().toDF("time", "band", "y", "x", "value"),
        gapMs = 10 * 60 * 1000L, delay = "30 minutes").toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      rows.grouped(math.max(1, (rows.length + nBatches - 1) / nBatches))
        .foreach { b => stream.addData(b); q.processAllAvailable() }
      stream.addData(Seq(flush)); q.processAllAvailable()
      q.stop()
      rowSet(spark.table(name).where(col("band") =!= "zz")
        .select("band", "y", "x", "start", "end", "n_events", "sum_value"))
    }
    run(3, "sess_split3") shouldBe run(5, "sess_split5")
  }

  test("late events merge into the correct open session before watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 10 * 60 * 1000L
    def run(name: String, batches: Seq[Seq[(Timestamp, String, Double, Double, Double)]]) = {
      val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
      val q = StreamingOps.sessionizeStream(
        stream.toDF().toDF("time", "band", "y", "x", "value"), gap,
        delay = "30 minutes").toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      stream.addData(Seq((ts("2024-01-01 09:00:00"), "zz", 9.0, 9.0, 0.0)))
      q.processAllAvailable()
      q.stop()
      spark.table(name).where(col("band") === "click")
        .select("band", "y", "x", "start", "end", "n_events", "sum_value")
    }
    val e1 = (ts("2024-01-01 00:00:00"), "click", 0.0, 0.0, 1.0)
    val e2 = (ts("2024-01-01 00:05:00"), "click", 0.0, 0.0, 2.0) // the late one
    val e3 = (ts("2024-01-01 00:10:00"), "click", 0.0, 0.0, 3.0)
    // out of order: e2 arrives a micro-batch AFTER e3, but above the
    // watermark (30 min delay) — it must merge into the open session
    val reordered = run("sess_late", Seq(Seq(e1, e3), Seq(e2)))
    val inOrder = run("sess_ontime", Seq(Seq(e1, e2, e3)))
    val got = reordered.collect()
    got.length shouldBe 1
    got(0).getAs[Long]("n_events") shouldBe 3
    got(0).getAs[Double]("sum_value") shouldBe 6.0
    got(0).getAs[Timestamp]("end").toString should startWith("2024-01-01 00:10")
    rowSet(reordered) shouldBe rowSet(inOrder) // on-time == late-reordered
  }

  test("multiple late strays in one batch merge with each other, not as singletons") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 10 * 60 * 1000L
    val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
    val q = StreamingOps.sessionizeStream(
      stream.toDF().toDF("time", "band", "y", "x", "value"), gap,
      delay = "2 hours").toDF()
      .writeStream.format("memory").queryName("sess_strays")
      .outputMode("append").start()
    // open a session at 01:40 (watermark stays 2h behind)
    stream.addData(Seq((ts("2024-01-01 01:40:00"), "click", 0.0, 0.0, 1.0)))
    q.processAllAvailable()
    // two late events 2 min apart, both above the watermark, both more
    // than a gap below the open session's start: they form ONE earlier
    // session together — not two singletons
    stream.addData(Seq(
      (ts("2024-01-01 00:50:00"), "click", 0.0, 0.0, 2.0),
      (ts("2024-01-01 00:52:00"), "click", 0.0, 0.0, 3.0)))
    q.processAllAvailable()
    stream.addData(Seq((ts("2024-01-01 12:00:00"), "zz", 9.0, 9.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_strays")
      .where(col("band") === "click").orderBy("start").collect()
    sessions.length shouldBe 2
    sessions(0).getAs[Long]("n_events") shouldBe 2   // the merged strays
    sessions(0).getAs[Double]("sum_value") shouldBe 5.0
    sessions(1).getAs[Long]("n_events") shouldBe 1
  }

  test("a late event can bridge an earlier stray into the open session") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 10 * 60 * 1000L
    val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
    val q = StreamingOps.sessionizeStream(
      stream.toDF().toDF("time", "band", "y", "x", "value"), gap,
      delay = "2 hours").toDF()
      .writeStream.format("memory").queryName("sess_bridge")
      .outputMode("append").start()
    stream.addData(Seq((ts("2024-01-01 01:40:00"), "click", 0.0, 0.0, 1.0)))
    q.processAllAvailable()
    // 01:25 is > gap below the open start (01:40), but 01:33 bridges:
    // 01:25—01:33 (8min) and 01:33—01:40 (7min) chain into ONE session
    stream.addData(Seq(
      (ts("2024-01-01 01:25:00"), "click", 0.0, 0.0, 2.0),
      (ts("2024-01-01 01:33:00"), "click", 0.0, 0.0, 4.0)))
    q.processAllAvailable()
    stream.addData(Seq((ts("2024-01-01 12:00:00"), "zz", 9.0, 9.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_bridge")
      .where(col("band") === "click").collect()
    sessions.length shouldBe 1
    sessions(0).getAs[Long]("n_events") shouldBe 3
    sessions(0).getAs[Double]("sum_value") shouldBe 7.0
    sessions(0).getAs[Timestamp]("start").toString should startWith("2024-01-01 01:25")
  }

  test("an event below the watermark does not kill the query (timeout clamp)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double, Double, Double)]
    val q = StreamingOps.sessionizeStream(
      stream.toDF().toDF("time", "band", "y", "x", "value"),
      gapMs = 10 * 60 * 1000L, delay = "30 minutes").toDF()
      .writeStream.format("memory").queryName("sess_stale")
      .outputMode("append").start()
    // advance the watermark to ~08:30 first
    stream.addData(Seq((ts("2024-01-01 09:00:00"), "click", 0.0, 0.0, 1.0)))
    q.processAllAvailable()
    // now a drastically late event, far below the watermark. The operator
    // DROPS below-watermark rows under EventTimeTimeout (so the
    // setTimeoutTimestamp clamp in sessionizeStream is defense-in-depth,
    // not the primary guard) — the contract pinned here is: the row
    // produces no session and the query survives.
    stream.addData(Seq((ts("2024-01-01 00:00:00"), "click", 5.0, 5.0, 7.0)))
    q.processAllAvailable()
    // the query must still be alive and processing
    stream.addData(Seq((ts("2024-01-01 20:00:00"), "zz", 9.0, 9.0, 0.0)))
    q.processAllAvailable()
    q.exception shouldBe None
    q.stop()
    spark.table("sess_stale").where(col("y") === 5.0).count() shouldBe 0
  }

  test("streaming curation gate equals the batch filter on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and runs on through the quiet field to rest " * 2,
      "spam spam spam spam spam spam spam spam spam spam spam spam",
      "a b",
      ("the cat and the dog of the house with many fine friends sat " * 3))
    val stream = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.curationGateStream(
      stream.toDF().toDF("etime", "text"), "text",
      minQuality = 0.5, maxTopBigramFrac = 0.5)
    val q = out.writeStream.format("memory").queryName("curation")
      .outputMode("append").start()
    stream.addData(docs.zipWithIndex.map { case (t, i) =>
      (ts(f"2024-01-01 00:0$i:00"), t) })
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curation").select("text", "quality",
      "top_bigram_frac").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    import spark.implicits._
    val batch = StreamingOps.curationGateStream(
      docs.toDF("text").withColumn("etime", lit(ts("2024-01-01 00:00:00"))),
      "text", 0.5, 0.5)
      .select("text", "quality", "top_bigram_frac").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    streamed shouldBe batch
    // the gate actually filters: the all-spam doc is repetition-rejected
    streamed.map(_._1).exists(_.startsWith("spam")) shouldBe false
    streamed should not be empty
  }

  test("streaming exact dedup keeps first occurrence per content hash") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.dedupExactStream(
      stream.toDF().toDF("etime", "text"), "text", "etime")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    stream.addData(Seq(
      (ts("2024-01-01 00:00:00"), "same"),
      (ts("2024-01-01 00:01:00"), "same"),
      (ts("2024-01-01 00:02:00"), "other")))
    q.processAllAvailable()
    q.stop()
    spark.table("dedup").select("text").collect()
      .map(_.getString(0)).sorted shouldBe Array("other", "same")
  }

  test("bloom decontamination gate: stream output equals batch (stateless projection)") {
    implicit val sqlCtx = spark.sqlContext
    val docs: Seq[(Long, String)] = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs today",
      2L -> "sphinx of black quartz judge my vow said nobody",
      3L -> "completely unrelated words that overlap with no eval text")
    val eval = Seq(10L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text")
    val bloom = graft.text.Dedup.evalGramBloom(eval, "text", shingleN = 3,
      estimatedItems = 1L << 10, numBits = 1L << 14)
    val batch = graft.text.Dedup.decontaminateBloom(
        docs.toDF("doc_id", "text"), bloom, "text", "doc_id", shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val stream = MemoryStream[(Long, String)]
    val q = graft.text.Dedup.decontaminateBloom(
        stream.toDF().toDF("doc_id", "text"), bloom, "text", "doc_id",
        shingleN = 3)
      .writeStream.format("memory").queryName("bloom_gate")
      .outputMode("append").start()
    stream.addData(docs.take(2)); q.processAllAvailable()
    stream.addData(docs.drop(2)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bloom_gate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    streamed shouldBe batch
    batch.exists { case (id, _, c) => id == 0L && c } shouldBe true // the plant
  }

  test("streaming ingestion gate equals the batch incremental set under any split") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river today"
    val ref = Seq(
      0L -> base,
      1L -> "completely different reference content about state stores and windows",
      2L -> "unrelated reference text with nothing shared whatsoever here now")
      .toDF("doc_id", "text")
    val incDocs: Seq[(Long, String)] = Seq(
      10L -> (base + " x"),            // near-dup of ref 0
      11L -> "brand new incoming document with fresh content entirely",
      12L -> "completely different reference content about state stores and window")
    val batch = graft.text.Dedup.minhashLshIncremental(
        ref, incDocs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    batch should not be empty // the plant matched
    def run(name: String, batches: Seq[Seq[(Long, String)]]) = {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupStreamMinhashIncremental(
          stream.toDF().toDF("doc_id", "text"), ref, "text", "doc_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).dropDuplicates("inc_id", "ref_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    run("inc_one", Seq(incDocs)) shouldBe batch
    run("inc_split", Seq(incDocs.take(1), incDocs.slice(1, 2),
      incDocs.drop(2))) shouldBe batch
  }

  test("exact decontamination gate: stream equals the batch operator under any split") {
    implicit val sqlCtx = spark.sqlContext
    val docs: Seq[(Long, String)] = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs today",
      2L -> "sphinx of black quartz judge my vow said nobody",
      3L -> "completely unrelated words that overlap with no eval text")
    val eval = Seq(10L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text")
    val batch = graft.text.Dedup.decontaminate(
        docs.toDF("doc_id", "text"), eval, "text", "doc_id", shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val evalHashes = eval.select(explode(graft.functions.TextHashExprs
        .shingleHashes(lower(trim(col("text"))), 3)).as("g"))
      .distinct().as[Long].collect().sorted
    def run(name: String, batches: Seq[Seq[(Long, String)]]) = {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.decontaminateStream(
          stream.toDF().toDF("doc_id", "text"), evalHashes, "text",
          "doc_id", shingleN = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    }
    run("dec_one", Seq(docs)) shouldBe batch
    run("dec_split", Seq(docs.take(1), docs.slice(1, 3), docs.drop(3))) shouldBe batch
    // the planted overlap is exact — no Bloom false positives here
    batch.exists { case (id, _, c) => id == 0L && c } shouldBe true
    batch.exists { case (id, _, c) => id == 3L && !c } shouldBe true
  }

  test("streaming simhash near-dup gate equals the batch pair set under any batch split") {
    implicit val sqlCtx = spark.sqlContext
    // corpus with planted near-dups: template docs + one-word edits
    // (simhash distance small), plus unrelated docs
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs: Seq[(Long, String)] = Seq(
      0L -> base,
      1L -> base.replace("today", "tonight"),       // near-dup of 0
      2L -> base,                                   // exact dup of 0
      3L -> "completely different content about spark structured streaming state stores",
      4L -> "completely different content about spark structured streaming state stores okay",
      5L -> "unrelated short text with nothing in common whatsoever here",
      6L -> "numbers one two three four five six seven eight nine ten eleven twelve",
      7L -> "numbers one two three four five six seven eight nine ten eleven thirteen")
    val batchPairs = graft.text.Dedup.simhashPairs(
      docs.toDF("doc_id", "text"), "text", "doc_id", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    batchPairs should not be empty // the plant worked
    def run(name: String, batches: Seq[Seq[(Long, String)]]): Set[(Long, Long, Int)] = {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupStreamSimhash(
        stream.toDF().toDF("doc_id", "text"), "text", "doc_id").toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).dropDuplicates("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    // one batch, several batches, and a shuffled split must all equal batch
    run("dup_one", Seq(docs)) shouldBe batchPairs
    run("dup_split", Seq(docs.take(3), docs.slice(3, 6), docs.drop(6))) shouldBe batchPairs
    val shuffled = scala.util.Random.javaRandomToRandom(
      new java.util.Random(5)).shuffle(docs)
    run("dup_shuffled", Seq(shuffled.take(4), shuffled.drop(4))) shouldBe batchPairs
    // re-ingesting the whole corpus must be a no-op: known ids neither
    // grow bucket state nor re-emit their pairs (ADVICE r3 guard) — the
    // APPEND-mode sink would keep duplicate rows, so equality with the
    // batch set proves nothing was re-emitted
    run("dup_reingest", Seq(docs, docs)) shouldBe batchPairs
    val reemitted = spark.table("dup_reingest").collect()
    reemitted.length shouldBe spark.table("dup_one").collect().length
  }

  test("mightContain rejects a non-constant bloom column with a typed error") {
    import org.apache.spark.sql.functions._
    val err = intercept[OpenEoError] {
      graft.functions.BloomExprs.mightContain(col("some_column"),
        xxhash64(lit("x")))
    }
    err.code shouldBe "BloomNotConstant"
    // the literal path still builds (analysis-time contract unchanged)
    graft.functions.BloomExprs.mightContain(lit(Array[Byte](1, 2, 3)),
      xxhash64(lit("x")))
    // structural, not name-based: a constant-foldable wrapper over a
    // literal (alias, cast) is accepted too — Spark would fold it.
    // Touch the shared session first: judging wrapped constants needs
    // the analyzer (raw literals are accepted even session-less).
    spark.range(1).count()
    graft.functions.BloomExprs.mightContain(
      lit(Array[Byte](1, 2, 3)).as("sketch"), xxhash64(lit("x")))
    graft.functions.BloomExprs.mightContain(
      lit("AQID").cast("binary"), xxhash64(lit("x")))
  }

  test("streaming HLL registers: estimate after each prefix equals the " +
      "batch sketch over rows ingested so far") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 900).map(i => ("g", s"tok${(i * 7) % 500}"))
    val stream = MemoryStream[(String, String)]
    val q = StreamingOps.distinctRegistersStream(
        stream.toDF().toDF("g", "v"), col("v"), Seq("g"))
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try rows.grouped(300).zipWithIndex.foreach { case (b, i) =>
      stream.addData(b); q.processAllAvailable()
      val streamed = graft.text.Sketches.hllEstimate(
        spark.table("hll_regs"), Seq("g"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val prefix = rows.take((i + 1) * 300).toDF("g", "v")
      val batch = graft.text.Sketches.hllDistinct(prefix, col("v"), Seq("g"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      streamed shouldBe batch
    } finally q.stop()
  }

  test("streaming n-gram counts equal batch counts after any prefix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq("a b c a b c", "b c a b", "z z z z", "a b c")
    val stream = MemoryStream[String]
    val q = StreamingOps
      .ngramCountsStream(stream.toDF().toDF("text"), "text", n = 2)
      .writeStream.format("memory").queryName("ngrams")
      .outputMode("complete").start()
    try {
      // feed in two batches; after EACH prefix the state equals batch
      for (half <- Seq(docs.take(2), docs.drop(2))) {
        stream.addData(half)
        q.processAllAvailable()
        val ingested = if (half == docs.take(2)) docs.take(2) else docs
        val streamed = spark.table("ngrams").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val batch = graft.text.Search
          .topNgrams(ingested.toDF("text"), "text", n = 2, k = 1000)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        streamed shouldBe batch
      }
    } finally q.stop()
  }

  test("annServeStream == batch topKIvfStore under any micro-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 48L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-serve").toString
    graft.text.Similarity.writeIvfStore(corpus, "vec_id", "embedding",
      s"$dir/idx", nCentroids = 6)
    val queries = corpus.where(col("vec_id") < 6)
    val batch = graft.text.Similarity.topKIvfStore(spark, s"$dir/idx",
      queries, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val qrows = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    for (batchSize <- Seq(1, 2, 6)) {
      val ms = MemoryStream[(Long, Array[Float])]
      val name = s"ann_serve_$batchSize"
      val q = StreamingOps.annServeStream(spark, s"$dir/idx",
          ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
          k = 3, nProbe = 2)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try qrows.grouped(batchSize).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(name)
        .select(col("query_id"), posexplode(col("topk")).as(Seq("p", "s")))
        .select(col("query_id"), (col("p") + 1).cast("int"),
          col("s.id"), round(col("s.cos"), 9))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
      streamed shouldBe batch
    }
  }

  test("bm25ServeStream == batch bm25Indexed (bit-exact) under any " +
      "micro-batch split; duplicate terms guarded statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Seq("spark", "merge", "window", "scan", "join", "alpha",
      "beta", "gamma", "delta", "omega")
    val docs = (0L until 70L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("search-serve").toString
    graft.text.Search.writeSearchIndex(docs, "text", "doc_id",
      s"$dir/idx", nBuckets = 4)
    // three queries, one with a DUPLICATED term (array_distinct guard)
    // and one with a term absent from the corpus
    val qs = Seq(
      (1L, Array("spark", "merge", "window")),
      (2L, Array("gamma", "gamma", "scan")),
      (3L, Array("omega", "notinthecorpus")))
    val expected = qs.flatMap { case (qid, terms) =>
      graft.text.Search.bm25Indexed(spark, s"$dir/idx",
          terms.distinct.toSeq)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3)))
    }.toSet
    for (batchSize <- Seq(1, 3)) {
      val ms = MemoryStream[(Long, Array[String])]
      val name = s"bm25_serve_$batchSize"
      val q = StreamingOps.bm25ServeStream(spark, s"$dir/idx",
          ms.toDF.toDF("query_id", "terms"), "query_id", "terms")
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try qs.grouped(batchSize).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .toSet
      streamed shouldBe expected
    }
  }

  test("changelogLatestStream == batch applyChangelog under any split, " +
      "including out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val epoch = ts("1970-01-01")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "status", "price")
    val changeRows = Seq(
      (1L, ts("2024-01-01"), "U", "a", 11.0),
      (1L, ts("2024-02-01"), "U", "a2", 12.0),
      (2L, ts("2024-01-15"), "D", "b", 0.0),
      (9L, ts("2024-01-10"), "I", "z", 90.0))
    val changes = changeRows.toDF("id", "change_ts", "op", "status", "price")
    val expect = rowSet(graft.ops.TableJoins.applyChangelog(base, changes,
      Seq("id"), "change_ts", "op"))
    val baseRows = Seq((1L, epoch, "I", "a", 10.0),
      (2L, epoch, "I", "b", 20.0), (3L, epoch, "I", "c", 30.0))
    // in-order, reversed (the LATER update to id 1 arrives FIRST), and
    // single-batch feeds all converge — struct-max state is order-free
    for (feed <- Seq(changeRows, changeRows.reverse,
        changeRows ++ List.empty)) {
      val ms = MemoryStream[(Long, java.sql.Timestamp, String, String,
        Double)]
      val name = s"merge_${feed.hashCode.abs}_${feed.length}"
      val q = StreamingOps.changelogLatestStream(
          ms.toDF.toDF("id", "change_ts", "op", "status", "price"),
          Seq("id"), "change_ts", "op")
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        ms.addData(baseRows); q.processAllAvailable()
        feed.grouped(2).foreach { b =>
          ms.addData(b); q.processAllAvailable()
        }
      } finally q.stop()
      rowSet(spark.table(name).where(col("op") =!= "D")
        .select("id", "status", "price")) shouldBe expect
    }
  }

  test("funnelStream == batch funnel under any event-time-ordered batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val rnd = new scala.util.Random(41)
    val evs = (1 to 200).map { i =>
      val stage = Seq("signup", "click", "purchase", "view")(rnd.nextInt(4))
      ((i % 12).toLong, stage, t(i))
    }.sortBy(_._3.getTime)
    val batch = graft.ops.Funnel.funnel(
        evs.toDF("user_id", "event_type", "ts"), "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"))
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Boolean)].collect().toSet
    for (nSplits <- Seq(1, 4)) {
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val out = StreamingOps.funnelStream(
        ms.toDF.toDF("user_id", "event_type", "ts"),
        Seq("signup", "click", "purchase"), delay = "10 minutes",
        flushQuietMs = 24L * 3600 * 1000)
      val sink = s"funnel_law_$nSplits"
      val q = out.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        evs.grouped(evs.length / nSplits + 1).foreach { b =>
          ms.addData(b); q.processAllAvailable()
        }
        ms.addData(Seq((-1L, "signup",
          new java.sql.Timestamp(t(200).getTime + 30L * 24 * 3600 * 1000))))
        q.processAllAvailable()
        spark.table(sink).where(col("user_id") >= 0)
          .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp],
            Option[java.sql.Timestamp], Boolean)]
          .collect().toSet shouldBe batch
      } finally q.stop()
    }
  }

  test("a q_stream_* row restores the session's shuffle partitions") {
    val docs = java.nio.file.Files.createTempDirectory("stream-parts").toString
    Seq((1L, "a b"), (2L, "c d"), (3L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docs/documents.parquet")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      for (before <- Seq("2", "4", "7")) {
        spark.conf.set(key, before)
        var during = ""
        SparkEntry.withStreamShuffle { (s, _) =>
          during = s.conf.get(key); s.range(1).toDF() }(spark, docs)
        during shouldBe "4"
        spark.conf.get(key) shouldBe before
        SparkEntry.queries("q_stream_dedup_exact")(spark, docs)
          .count() shouldBe 2
        spark.conf.get(key) shouldBe before
      }
    } finally spark.conf.set(key, prev)
  }
}
