package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.ops._
import graft.text.{Classifier, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._

/** Stream tier of the driver-contract query surface (r14 hygiene split of
  * SparkEntry's single 10.7k-line file; zero behavior change). Each tier
  * object contributes a `q` (queries) and `sql` (DuckDB oracle) map;
  * `SparkEntry.queries`/`SparkEntry.oracleSql` concatenate the tiers.
  * Shared helpers stay on SparkEntry as `private[graft]`. */
private[graft] object QueriesStream {

  /** Run `body` with watermark-only (no-data) micro-batches disabled,
    * restoring the session default after. Each no-data batch costs a
    * full state-commit cycle: offset and commit log entries plus a delta
    * file per state partition (the r13 floor breakdown: ~0.6–1.7 s per
    * batch at sf0.1 regardless of row count). Part of that floor was
    * the `chmod`/`readlink` process the stock Hadoop local file system
    * started per written file. [[graft.io.LocalFs]] starts none: a
    * batch of `q_stream_agg_period` now takes ~0.18 s of trigger time at
    * sf0.001 (0.35 s before, traced perfbench run), and the row at
    * sf0.01 went from 2.3-2.6 s to 1.6-1.7 s (two exclusive
    * `graft.Bench` runs each). Rows whose output needs a
    * watermark-driven flush feed an explicit sentinel batch instead —
    * one tiny data batch replaces every feeding round's no-data cycle.
    * The join rows established the pattern (r13); r14 extends it to the
    * windowed-aggregation / dedup / session / funnel rows, oracle rows
    * unchanged (each row's oracle is a declarative batch twin). */
  private def withNoDataOff[A](s: SparkSession)(body: => A): A = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(k, "true")
    s.conf.set(k, "false")
    try body finally s.conf.set(k, prev)
  }

  def q: Map[String, Q] = Map(
    "q_stream_netcdf" -> ((s, dir) => {
      // the V2 source's STREAMING face through a REAL micro-batch run:
      // two job outputs (time-split halves of the daily-max cube) land
      // in a watched directory one batch apart; the seen-file-set
      // offset picks each up exactly once and the append sink
      // accumulates the full store projection — which IS the oracle.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val sd = s"${System.getProperty("java.io.tmpdir")}/graft_ncstream_$slug"
      val dirF = new java.io.File(sd)
      if (dirF.isDirectory) dirF.listFiles().foreach(_.delete())
      dirF.mkdirs()
      val daily = Reducers.aggregateTemporalPeriod(eventsCube(s, dir), "day", "max")
      val mid = daily.df.agg(
        percentile_approx(col(Dim.Time), lit(0.5), lit(100))).head()
        .getTimestamp(0)
      graft.ops.Sinks.writeNetcdf(
        daily.withDF(daily.df.where(col(Dim.Time) <= lit(mid))), s"$sd/h1.nc")
      val q = s.readStream.format("graft-netcdf").load(sd)
        .writeStream.format("memory").queryName(s"nc_stream_$slug")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        graft.ops.Sinks.writeNetcdf(
          daily.withDF(daily.df.where(col(Dim.Time) > lit(mid))), s"$sd/h2.nc")
        q.processAllAvailable()
      } finally q.stop()
      s.table(s"nc_stream_$slug")
        .select("time", "band", "y", "x", "value")
    }),
    "q_stream_search" -> ((s, dir) => {
      // ONLINE keyword retrieval through a REAL 2-micro-batch
      // MemoryStream run: (query_id, terms[]) queries stream against the
      // persisted inverted index (frozen stats as driver literals,
      // stream-static joins to the df and postings tables, per-query
      // aggregation completing in the arrival batch). The gate query's
      // rows are bit-identical to the batch serving path and to q_bm25 —
      // oracle shared verbatim; a second, different query rides batch 2
      // to prove per-query isolation.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val idx = buildSearchIndex(s, dir)
      val ms = MemoryStream[(Long, Array[String])]
      val sink = "q_stream_search_sink"
      val q = graft.streaming.StreamingOps.bm25ServeStream(s, idx,
          ms.toDF.toDF("query_id", "terms"), "query_id", "terms")
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        ms.addData((1L, Array("spark", "merge", "window")))
        q.processAllAvailable()
        ms.addData((2L, Array("scan", "table")))
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink).where(col("query_id") === 1L)
        .select(col("doc_id"), col("n_terms"), col("n_hits"), col("score"))
    }),
    "q_stream_sessionize" -> ((s, dir) => {
      // STATEFUL streaming correctness row: gap sessionization through a
      // real MemoryStream run — flatMapGroupsWithState with event-time
      // timeout, 4 time-ordered micro-batches, then a far-future
      // watermark sentinel so every open session times out and flushes.
      // Oracle = the batch formulation (q_sessionize's SQL) with
      // round(sum, 2): session boundaries and counts are exactly equal;
      // the payload sum accumulates in stream order (plain doubles) vs
      // the oracle's decimal sum, and both are multiples of 0.01 whose
      // ~1e-12 representation noise rounds away at 2 decimals.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      // time-sorted cube feed collected once per JVM (sharedFeed r14:
      // agg_period and sessionize feed the identical array)
      val rows = sharedFeed("feed_evcube", dir) {
        eventsCube(s, dir).df
          .select(col(Dim.Time), col(Dim.Band), col(Dim.Y), col(Dim.X),
            col(Cube.ValueCol))
          .as[(java.sql.Timestamp, String, Double, Double, Double)]
          .collect().sortBy(_._1.getTime)
      }
      val ms = MemoryStream[(java.sql.Timestamp, String, Double, Double, Double)]
      val sink = "q_stream_sessionize_sink"
      // event-time timeouts fire in a batch whose watermark has passed
      // the session gap; with no-data batches off (a full state cycle
      // saved per feeding round), sentinel 2 is the batch that runs
      // under sentinel 1's advanced watermark and flushes every open
      // session (join_outer pattern). '_wm' sentinels filtered below.
      withNoDataOff(s) {
        val q = graft.streaming.StreamingOps.sessionizeStream(
            ms.toDF.toDF("time", "band", "y", "x", "value"),
            gapMs = 30 * 60 * 1000L)
          .toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          rows.grouped(math.max(1, (rows.length + 1) / 2)).foreach { b =>
            ms.addData(b.toSeq); q.processAllAvailable()
          }
          val flushTs = new java.sql.Timestamp(
            rows.last._1.getTime + 365L * 24 * 3600 * 1000)
          ms.addData(Seq((flushTs, "_wm", 0.0, 0.0, 0.0)))
          q.processAllAvailable()
          val flushTs2 = new java.sql.Timestamp(
            flushTs.getTime + 365L * 24 * 3600 * 1000)
          ms.addData(Seq((flushTs2, "_wm", 0.0, 0.0, 0.0)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sink).where(col("band") =!= "_wm")
        .select(col("band"), col("y"), col("x"), col("start"), col("end"),
          col("n_events"), round(col("sum_value"), 2).as("sum_value"))
    }),
    "q_stream_curation_gate" -> ((s, dir) => {
      // REAL incremental execution inside the correctness gate: the
      // curation-gate expressions run through a MemoryStream in 4
      // micro-batches into an in-memory append sink, and the collected
      // sink is the query result. The gate is stateless, so stream
      // output == batch output under ANY batch split — which is exactly
      // what the batch-formulated oracle verifies (StreamingSpec pins
      // the same law for the stateful ops). The driver-side collect is
      // harness-only fixture feeding (≤ a few k docs at sf0.01); a
      // production stream reads kafka/files through the same projection.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String)]
      val sink = "q_stream_curation_gate_sink"
      val q = graft.streaming.StreamingOps.curationGateStream(
          ms.toDF.toDF("doc_id", "text"), "text",
          minQuality = 0.75, maxTopBigramFrac = 0.2)
        .select(col("doc_id"), col("quality"), col("top_bigram_frac"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try docs.grouped(math.max(1, (docs.length + 1) / 2)).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),
    "q_stream_hll" -> ((s, dir) => {
      // the live distinct-count monitor executed through a REAL
      // update-state micro-batch run: documents stream in 2 batches,
      // tokens explode stream-side, the bounded register table lands in
      // a complete-mode sink, and the estimate over the sink is the
      // result — equal to the batch sketch by the per-register-max merge
      // law (StreamingSpec pins every prefix), so q_hll_distinct's
      // oracle replay verifies this execution too
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("text"))
        .as[(String, String)].collect().sortBy(_._2)
      val ms = MemoryStream[(String, String)]
      val sink = "q_stream_hll_sink"
      val toks = ms.toDF.toDF("lang", "text")
        .select(col("lang"),
          explode(graft.functions.TextHashExprs.wsTokens(col("text"))).as("_tok"))
        .where(col("_tok") =!= "")
      val q = graft.streaming.StreamingOps
        .distinctRegistersStream(toks, col("_tok"), Seq("lang"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try docs.grouped(math.max(1, (docs.length + 1) / 2)).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      graft.text.Sketches.hllEstimate(s.table(sink), Seq("lang"))
    }),
    "q_stream_lm_score" -> ((s, dir) => {
      // stream-SERVING LM scoring: the bigram LM trains batch-side, is
      // broadcast, and documents arriving through a real MemoryStream
      // (3 micro-batches) are scored by the stateless map-side scorer —
      // append mode with zero stateful machinery, the model-serving
      // pattern. The scorer is bit-identical to the join formulation,
      // so the oracle is the same batch LM replay as q_lm_perplexity.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val lm = corpusBigramLmShared(s, dir) // == trainBigramLm(d, "text")
      val rows = d.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      val ms = MemoryStream[(Long, String)]
      val sink = "q_stream_lm_score_sink"
      val q = graft.text.LanguageModel
        .scoreBigramLmBroadcast(ms.toDF.toDF("doc_id", "text"), lm,
          "text", "doc_id")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        rows.grouped(math.max(1, (rows.length + 1) / 2)).foreach { b =>
          ms.addData(b.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      s.table(sink)
    }),
    "q_stream_neardup" -> ((s, dir) => {
      // STATEFUL streaming near-dup gate through a REAL MemoryStream
      // run: documents arrive in 2 micro-batches, each hashes once
      // (codegen simhash), explodes to its 28 band-pair buckets, and
      // flatMapGroupsWithState keyed by bucket emits a pair the moment
      // the later duplicate arrives. The streamed match set equals the
      // batch self-join pair set under ANY batch split (both modes
      // derive candidates from the same simhashPairKeys expression;
      // StreamingSpec pins split-independence and re-ingestion safety),
      // so the oracle is q_dedup_simhash's all-pairs replay verbatim.
      // A pair sharing several buckets emits once per bucket — the
      // dropDuplicates collapse mirrors the batch blocking's own.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String)]
      val sink = "q_stream_neardup_sink"
      val q = graft.streaming.StreamingOps.dedupStreamSimhash(
          ms.toDF.toDF("doc_id", "text"), "text", "doc_id", maxDist = 6)
        .toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        docs.grouped(math.max(1, (docs.length + 1) / 2)).foreach { b =>
          ms.addData(b.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      s.table(sink).dropDuplicates("id_a", "id_b")
    }),
    "q_stream_agg_period" -> ((s, dir) => {
      // watermarked tumbling-window aggregation through a REAL append-
      // mode MemoryStream run: the events cube streams in 2 time-ordered
      // micro-batches, day windows close as the watermark passes, and a
      // far-future sentinel flushes the last open windows (the
      // sessionize pattern). Labels are window starts == date_trunc
      // day, so the batch oracle verifies the streamed execution.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      // time-sorted cube feed collected once per JVM (sharedFeed r14:
      // agg_period and sessionize feed the identical array)
      val rows = sharedFeed("feed_evcube", dir) {
        eventsCube(s, dir).df
          .select(col(Dim.Time), col(Dim.Band), col(Dim.Y), col(Dim.X),
            col(Cube.ValueCol))
          .as[(java.sql.Timestamp, String, Double, Double, Double)]
          .collect().sortBy(_._1.getTime)
      }
      val ms = MemoryStream[(java.sql.Timestamp, String, Double, Double, Double)]
      val sink = "q_stream_agg_period_sink"
      // append-mode windows emit when the watermark passes the window
      // end; with no-data batches off (one full state cycle saved per
      // feeding round) the flush vehicle is a SECOND sentinel batch:
      // sentinel 1 advances the watermark past every real window,
      // sentinel 2 is the data batch in which that watermark closes and
      // emits them (the join_outer pattern). Both sentinels are
      // band='_wm', filtered below — rows identical, oracle unchanged.
      withNoDataOff(s) {
        val q = graft.streaming.StreamingOps.aggregateTemporalPeriodStream(
            ms.toDF.toDF("time", "band", "y", "x", "value"), "day", "max")
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          rows.grouped(math.max(1, (rows.length + 1) / 2)).foreach { b =>
            ms.addData(b.toSeq); q.processAllAvailable()
          }
          val flushTs = new java.sql.Timestamp(
            rows.last._1.getTime + 365L * 24 * 3600 * 1000)
          ms.addData(Seq((flushTs, "_wm", 0.0, 0.0, 0.0)))
          q.processAllAvailable()
          val flushTs2 = new java.sql.Timestamp(
            flushTs.getTime + 365L * 24 * 3600 * 1000)
          ms.addData(Seq((flushTs2, "_wm", 0.0, 0.0, 0.0)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sink).where(col("band") =!= "_wm")
    }),
    "q_stream_dedup_exact" -> ((s, dir) => {
      // streaming exact dedup through a REAL run: dropDuplicates on the
      // content digest with event-time state. Which COPY of a duplicate
      // survives depends on intra-batch race, so the row emits the
      // digest alone — exactly one row per distinct content, any order,
      // which the batch distinct-digest oracle verifies.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val base = new java.sql.Timestamp(1700000000000L).getTime
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
        .map { case (id, t) => (new java.sql.Timestamp(base + id), t) }
      val ms = MemoryStream[(java.sql.Timestamp, String)]
      val sink = "q_stream_dedup_exact_sink"
      // dropDuplicates emits each first-seen digest IN ITS ARRIVAL
      // batch; the watermark exists only to evict state. The no-data
      // batches after each round re-scan and re-commit the full state
      // for zero output (measured 2 empties × ~1.7 s at sf0.1) — turn
      // them off; no sentinel needed, nothing ever flushes on watermark.
      withNoDataOff(s) {
        val q = graft.streaming.StreamingOps.dedupExactStream(
            ms.toDF.toDF("ts", "text"), "text", "ts")
          .select(col("content_hash"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try docs.grouped(math.max(1, (docs.length + 1) / 2)).foreach { b =>
          ms.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sink)
    }),
    "q_stream_ngram_monitor" -> ((s, dir) => {
      // the incremental n-gram frequency monitor through a REAL
      // update-state run: documents stream in 2 batches, trigram counts
      // accumulate in the stateful aggregation, and the complete-mode
      // sink after the last batch equals the batch count table (counts
      // are order- and batching-insensitive).
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String)]
      val sink = "q_stream_ngram_monitor_sink"
      val q = graft.streaming.StreamingOps.ngramCountsStream(
          ms.toDF.toDF("doc_id", "text"), "text", 3)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try docs.grouped(math.max(1, (docs.length + 1) / 2)).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),
    "q_stream_dedup_incremental" -> ((s, dir) => {
      // the production INGESTION gate as a stream: the same planted
      // shard as q_dedup_incremental arrives in 2 micro-batches and
      // gates against the static kept corpus via stream-static band +
      // shingle joins (append-legal, zero state). Multi-band pairs
      // emit once per band — collapsed at the sink; the batch
      // cross-side oracle verifies the match set verbatim.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ref = d.where(col("doc_id") < 400).select("doc_id", "text")
      val incRows = d.where(col("doc_id") >= 400).select("doc_id", "text")
        .unionByName(d.where(col("doc_id") < 25)
          .select((col("doc_id") + lit(10000L)).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
        .as[(Long, String)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String)]
      val sink = "q_stream_dedup_incremental_sink"
      val q = graft.streaming.StreamingOps.dedupStreamMinhashIncremental(
          ms.toDF.toDF("doc_id", "text"), ref, "text", "doc_id")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try incRows.grouped(math.max(1, (incRows.length + 1) / 2)).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).dropDuplicates("inc_id", "ref_id")
    }),
    "q_stream_ann" -> ((s, dir) => {
      // ONLINE retrieval through a REAL 2-micro-batch MemoryStream run:
      // query vectors stream against the persisted IVF store (frozen
      // centroids probed in a stateless projection, stream-static join
      // to the assignment, bounded TopKAgg per query — k entries of
      // state, never the candidate set). The complete-mode sink's final
      // table posexplodes (batch) to the ranked rows — identical to the
      // batch serving path, oracle shared verbatim with q_ann_topk_ivf.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = buildIvfStore(s, dir)
      val qrows = e.where(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, Array[Float])]
      val sink = "q_stream_ann_sink"
      val q = graft.streaming.StreamingOps.annServeStream(s, idx,
          ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
          k = 5, nProbe = 4)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try qrows.grouped(5).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
        .select(col("query_id"), posexplode(col("topk")).as(Seq("_pos", "_s")))
        .select(col("query_id"), (col("_pos") + 1).cast("int").as("rank"),
          col("_s.id").as("neighbor_id"), round(col("_s.cos"), 9).as("cos"))
    }),
    "q_stream_decontaminate" -> ((s, dir) => {
      // EXACT stateless decontamination through a REAL MemoryStream run:
      // the eval suite (every 37th doc) collapses once to its distinct
      // shingle-hash LITERAL (bounded — benchmarks are small by
      // definition), and corpus docs streaming in 2 micro-batches count
      // their contamination in a pure projection (array_intersect
      // against the literal). Stateless → stream == batch under any
      // split, so the oracle is q_decontaminate's string-level replay
      // verbatim.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val evalHashes = d.where(col("doc_id") % 37 === 0)
        .select(explode(graft.functions.TextHashExprs.shingleHashes(
          lower(trim(col("text"))), 5)).as("g"))
        .distinct().as[Long].collect().sorted
      val docs = d.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, String)]
      val sink = "q_stream_decontaminate_sink"
      val q = graft.streaming.StreamingOps.decontaminateStream(
          ms.toDF.toDF("doc_id", "text"), evalHashes, "text", "doc_id")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try docs.grouped(math.max(1, (docs.length + 1) / 2)).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),
    "q_stream_funnel" -> ((s, dir) => {
      // STATEFUL streaming funnel: the 3-slot per-user state machine
      // through a real MemoryStream run — greedy stage commits per
      // event-time-ordered batch, event-time-timeout flush via the
      // far-future sentinel (Spark's no-data batch fires the timeouts).
      // Oracle = the batch funnel formulation, shared verbatim.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val evs = readEvents(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .as[(Long, String, java.sql.Timestamp)].collect().sortBy(_._3.getTime)
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val out = graft.streaming.StreamingOps.funnelStream(
        ms.toDF.toDF("user_id", "event_type", "ts"),
        Seq("signup", "click", "purchase"), delay = "2 hours")
      val sink = "q_stream_funnel_sink"
      // with no-data batches off (each cost a full 4-partition state
      // rescan here, ~1.4 s), the event-time timeouts fire during the
      // SECOND sentinel batch, which runs under the watermark sentinel 1
      // advanced (join_outer pattern). Sentinel users are negative,
      // filtered below — rows identical, oracle unchanged.
      withNoDataOff(s) {
        val q = out.toDF().writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          evs.grouped(math.max(1, evs.length / 2 + 1)).foreach { b =>
            ms.addData(b.toSeq); q.processAllAvailable()
          }
          val sentinelTs = new java.sql.Timestamp(
            evs.last._3.getTime + 365L * 24 * 3600 * 1000)
          ms.addData(Seq((-1L, "signup", sentinelTs)))
          q.processAllAvailable()
          val sentinelTs2 = new java.sql.Timestamp(
            sentinelTs.getTime + 365L * 24 * 3600 * 1000)
          ms.addData(Seq((-2L, "signup", sentinelTs2)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sink).where(col("user_id") >= 0)
        .select("user_id", "signup_ts", "click_ts", "purchase_ts",
          "converted")
    }),
    "q_stream_merge" -> ((s, dir) => {
      // the CDC ingestion stream through a REAL 2-micro-batch run: the
      // base snapshot rides in as epoch-timestamped "I" changes (batch
      // 1), the same derived CDC log as q_merge_changelog follows in
      // batch 2, and the per-key struct-max state (ONE struct per key)
      // converges to the batch snapshot — oracle shared verbatim. (The
      // any-split invariance law lives in StreamingSpec; each feeding
      // round is a full state-commit cycle, so the gate row keeps the
      // minimum that still crosses batches.)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val o = s.read.parquet(s"$dir/orders.parquet")
      val epoch = java.sql.Timestamp.valueOf("1970-01-01 00:00:00")
      val baseRows = o.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .collect().map(r => (r.getLong(0), epoch, "I", r.getString(1),
          r.getDouble(2)))
      val changeRows = o.where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          when(col("o_orderkey") % 15 === 0, "D").otherwise("U"),
          col("o_orderstatus"), (col("o_totalprice") + 1000.0))
        .as[(Long, java.sql.Timestamp, String, String, Double)]
        .collect().sortBy(_._1)
      val ms = MemoryStream[(Long, java.sql.Timestamp, String, String,
        Double)]
      val sink = "q_stream_merge_sink"
      val q = graft.streaming.StreamingOps.changelogLatestStream(
          ms.toDF.toDF("o_orderkey", "change_ts", "op", "o_orderstatus",
            "o_totalprice"),
          Seq("o_orderkey"), "change_ts", "op")
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        ms.addData(baseRows.toSeq); q.processAllAvailable()
        ms.addData(changeRows.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).where(col("op") =!= "D")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    }),
    "q_stream_snapshot" -> ((s, dir) => {
      // STREAMING face of the log (format("graft-snapshot")): offsets
      // are committed VERSION numbers, each micro-batch reads exactly
      // the files the versions in (start, end] ADDED — three real
      // micro-batches here, with an OPTIMIZE between them that must NOT
      // re-emit (if it did, the %3∈{0,1} rows would double and the hash
      // would break). This is the forever-running incremental consumer
      // of a 100 TB table that keeps committing.
      val p = freshSnapshotPath(dir, "st")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.where(col("event_id") % 3 === 0), p)
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val sink = s"snap_stream_$slug"
      val q = s.readStream.format("graft-snapshot").load(p)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        Snapshots.append(ev.where(col("event_id") % 3 === 1), p)
        q.processAllAvailable()
        Snapshots.optimize(s, p, numFiles = 1)
        q.processAllAvailable()
        Snapshots.append(ev.where(col("event_id") % 3 === 2), p)
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),
    "q_stream_bitmap_cube" -> ((s, dir) => {
      // INCREMENTAL sketch-cube maintenance, end to end (r11): events
      // land in a snapshot table in two commits; a streaming read tails
      // the log and each micro-batch folds ONLY ITS ROWS into the
      // per-(type, day) bitmap cube — existing sketches OR-merge with
      // the batch's sketches (bitmaps are an insert monoid), landed as
      // one idempotent commit per batch. At 100 TB the cube update
      // costs O(batch + cube), never O(history); the oracle recomputes
      // the final cube from raw events, proving the incremental fold
      // exact. Distinct-count maintenance like this is impossible with
      // plain COUNT(DISTINCT) columns.
      import graft.functions.BitmapExprs._
      val src = freshSnapshotPath(dir, "bmsrc")
      val cube = freshSnapshotPath(dir, "bmcube")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ev = readEvents(s, dir)
        .select(col("event_type"), col("ts"), col("user_id"))
      Snapshots.append(ev.where(col("user_id") % 2 === 0), src)
      Snapshots.append(ev.where(col("user_id") % 2 === 1), src)
      val q = s.readStream.format("graft-snapshot")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream
        .option("checkpointLocation", freshCheckpoint("bmcube"))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val delta = batch
            .groupBy(col("event_type"),
              date_trunc("day", col("ts")).as("day"))
            .agg(bitmapAgg(col("user_id")).as("s"))
          val cur = Snapshots.latestManifest(batch.sparkSession, cube)
            .map(_ => Snapshots.read(batch.sparkSession, cube))
            .getOrElse(delta.limit(0))
          val merged = cur.select(col("event_type"), col("day"),
              col("s").as("_old"))
            .join(delta.select(col("event_type"), col("day"),
              col("s").as("_new")), Seq("event_type", "day"),
              "full_outer")
            .select(col("event_type"), col("day"),
              when(col("_old").isNull, col("_new"))
                .when(col("_new").isNull, col("_old"))
                .otherwise(bitmapOr(col("_old"), col("_new"))).as("s"))
          Snapshots.overwriteIdempotent(merged, cube,
            s"bmcube_$slug", batchId)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      Snapshots.read(s, cube)
        .select(col("event_type"), col("day"),
          bitmapCount(col("s")).as("n_users"))
    }),
    "q_stream_native_sink" -> ((s, dir) => {
      // NATIVE streaming sink (r11): writeStream.format("graft-
      // snapshot").start(path) with NO foreachBatch — the Delta
      // DeltaSink architecture (V1 StreamSinkProvider behind the V2
      // table). Two micro-batches land as two idempotent (query id,
      // batchId)-keyed append commits; the result is the table read
      // back, so the oracle verifies the streamed content AND the
      // commit protocol end-to-end. Crash-replay idempotence, Complete
      // mode, partitionBy layout creation and Update rejection are
      // spec-pinned (SnapshotSinkSpec).
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val p = freshSnapshotPath(dir, "nsink")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val rows = snapshotEvents(s, dir)
        .where(col("event_id") % 7 === 0)
        .as[(Long, Long, String, Double)].collect().sortBy(_._1)
      val ms = MemoryStream[(Long, Long, String, Double)]
      val q = ms.toDF().toDF("event_id", "user_id", "event_type", "value")
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", freshCheckpoint("nsink"))
        .outputMode("append")
        .start(p)
      try {
        rows.grouped(math.max(1, (rows.length + 1) / 2)).foreach { b =>
          ms.addData(b.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      Snapshots.read(s, p)
    }),
    "q_stream_cdf_mirror" -> ((s, dir) => {
      // the FULL production loop: source table → readChangeFeed stream
      // → exactly-once foreachBatch mirror. The batch folds inserts +
      // row-level deletes into the mirror via applyChangeFeed and lands
      // as one idempotent overwrite commit — after the run the mirror
      // equals the source's latest content without ever re-reading the
      // source table. Two admission rounds here so BOTH sink paths are
      // oracle-gated: batch 0 bootstraps (fold into empty), batch 1
      // exercises the steady-state mergeChanges (atomic file-pruned
      // CoW apply of the row-level deletes). Crash-replay idempotence
      // is law-pinned (SnapshotCdfSpec). Oracle = q_cdf_apply's (same
      // final content).
      val p = buildCdfSnapshotStore(s, dir)
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val mirror = freshSnapshotPath(dir, "mi")
      val q = s.readStream.format("graft-snapshot")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "2")
        .load(p)
        .writeStream
        .option("checkpointLocation", freshCheckpoint("mi"))
        .foreachBatch(Snapshots.streamMirror(mirror, s"mi_$slug",
          Seq("event_id")))
        .start()
      try q.processAllAvailable() finally q.stop()
      Snapshots.read(s, mirror)
    }),
    "q_stream_cdf" -> ((s, dir) => {
      // the SAME feed as a real multi-batch STREAM: readChangeFeed on
      // the V2 source with maxVersionsPerTrigger=1 plans one commit per
      // micro-batch (3 real batches here — two insert batches, one
      // row-level delete batch), offsets are versions, replay
      // deterministic from the log.
      val p = buildCdfSnapshotStore(s, dir)
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val sink = s"snap_cdf_$slug"
      val q = s.readStream.format("graft-snapshot")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load(p)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).drop("_commit_timestamp") // wall-clock, see q_snapshot_cdf
    }),
    "q_stream_cdf_mirror_cow" -> ((s, dir) => {
      // the r10 divergence scenario, now CONVERGING: the source uses
      // CoW deletes + a partition-dropping replaceWhere, the mirror is
      // driven purely by readChangeFeed → streamMirror → mergeChanges,
      // and ends EQUAL to the source — with no writer-discipline
      // caveat. A CoW commit without a sidecar fails typed instead
      // (spec-pinned), so the mirror can never silently drift.
      val p = buildCowCdfStore(s, dir)
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val mirror = freshSnapshotPath(dir, "mc")
      // 2 versions/trigger = TWO admission rounds (the budget rule:
      // both sink paths gated at minimum stream cost): batch 0
      // bootstraps from v1+v2 (inserts + the CoW delete's sidecar
      // rows), batch 1 steady-state-mergeChanges v3 (fullRemoves
      // deletes + the backfill inserts)
      val q = s.readStream.format("graft-snapshot")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "2")
        .load(p)
        .writeStream
        .option("checkpointLocation", freshCheckpoint("mc"))
        .foreachBatch(Snapshots.streamMirror(mirror, s"mc_$slug",
          Seq("event_id")))
        .start()
      try q.processAllAvailable() finally q.stop()
      Snapshots.read(s, mirror)
    }),
    "q_stream_join" -> ((s, dir) => {
      // STREAM-STREAM correctness row: watermarked two-stream inner
      // join (views x clicks per user within ±30 min) through a real
      // two-MemoryStream micro-batch run. Inner-join matches emit as
      // they form; the generous watermark keeps every in-band pair
      // (state eviction is the production knob, pinned in
      // StreamingSpec). Oracle = the declarative batch inequality join.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      // views/clicks feeds collected once per JVM (sharedFeed r14: both
      // join rows feed the identical arrays)
      val views = sharedFeed("feed_views", dir) {
        readEvents(s, dir).where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
          .as[(Long, Long, java.sql.Timestamp)].collect().sortBy(_._3.getTime)
      }
      val clicks = sharedFeed("feed_clicks", dir) {
        readEvents(s, dir).where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
          .as[(Long, java.sql.Timestamp, Double)].collect().sortBy(_._2.getTime)
      }
      val msV = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val msC = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val joined = graft.streaming.StreamingOps.joinStreamsWithin(
        msV.toDF.toDF("event_id", "user_id", "ts"),
        msC.toDF.toDF("user_id", "cts", "click_value"),
        Seq("user_id"), "ts", "cts",
        bandMs = 30L * 60 * 1000, watermarkMs = 30L * 24 * 3600 * 1000)
      val sink = "q_stream_join_sink"
      // watermark-only (no-data) micro-batches are OUTPUT-NEUTRAL for an
      // inner band join — they exist for outer-join null emission and
      // idle-stream state cleanup (eviction still runs on data batches).
      // Each feeding round otherwise pays a full second batch cycle for
      // zero rows: measured 4.0→2.6 s at sf0.1 (StreamProbe), rows
      // identical. The outer row below keeps them (its null flush NEEDS
      // the watermark-only cycle).
      val prevNoData =
        s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // 2 feeding rounds: each extra round costs a full state-store
        // commit cycle over both sides' buffered rows (BENCH_NOTES r6:
        // 3 rounds measured ~30% slower with identical output)
        val vb = views.grouped(math.max(1, views.length / 2 + 1)).toSeq
        val cb = clicks.grouped(math.max(1, clicks.length / 2 + 1)).toSeq
        (0 until math.max(vb.length, cb.length)).foreach { i =>
          if (i < vb.length) msV.addData(vb(i))
          if (i < cb.length) msC.addData(cb(i))
          q.processAllAvailable()
        }
      } finally {
        q.stop()
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
          prevNoData)
      }
      s.table(sink)
        .select("event_id", "user_id", "ts", "cts", "click_value")
    }),
    "q_stream_join_outer" -> ((s, dir) => {
      // LEFT-OUTER stream-stream correctness row — the watermark-proof
      // semantics: an unmatched view can only emit (null click columns)
      // once the watermark proves no click can still land in its ±30 min
      // band. Batches feed time-ordered with a 2 h watermark; a
      // far-future sentinel on BOTH streams flushes every pending
      // unmatched row. Oracle = the declarative batch LEFT band join.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      // views/clicks feeds collected once per JVM (sharedFeed r14: both
      // join rows feed the identical arrays)
      val views = sharedFeed("feed_views", dir) {
        readEvents(s, dir).where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
          .as[(Long, Long, java.sql.Timestamp)].collect().sortBy(_._3.getTime)
      }
      val clicks = sharedFeed("feed_clicks", dir) {
        readEvents(s, dir).where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
          .as[(Long, java.sql.Timestamp, Double)].collect().sortBy(_._2.getTime)
      }
      val maxTs = math.max(views.last._3.getTime, clicks.last._2.getTime)
      val sentinelTs = new java.sql.Timestamp(maxTs + 365L * 24 * 3600 * 1000)
      val msV = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val msC = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val joined = graft.streaming.StreamingOps.joinStreamsWithin(
        msV.toDF.toDF("event_id", "user_id", "ts"),
        msC.toDF.toDF("user_id", "cts", "click_value"),
        Seq("user_id"), "ts", "cts",
        bandMs = 30L * 60 * 1000, watermarkMs = 2L * 3600 * 1000,
        joinType = "left_outer")
      val sink = "q_stream_join_outer_sink"
      // outer joins DO need watermark-driven null emission — but a
      // watermark-only (no-data) micro-batch is not the only vehicle:
      // eviction/null-flush also runs at the start of the NEXT data
      // batch. Feeding a SECOND sentinel round replaces every round's
      // no-data cycle (2 per round) with one tiny data batch — same
      // rows (oracle-checked), ~1.5 s less machinery at sf0.1.
      val prevNoData =
        s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // 2 feeding rounds: each extra round costs a full state-store
        // commit cycle over both sides' buffered rows (BENCH_NOTES r6:
        // 3 rounds measured ~30% slower with identical output)
        val vb = views.grouped(math.max(1, views.length / 2 + 1)).toSeq
        val cb = clicks.grouped(math.max(1, clicks.length / 2 + 1)).toSeq
        (0 until math.max(vb.length, cb.length)).foreach { i =>
          if (i < vb.length) msV.addData(vb(i))
          if (i < cb.length) msC.addData(cb(i))
          q.processAllAvailable()
        }
        // sentinel 1 advances the watermark past every real row;
        // sentinel 2 is the data batch in which the advanced watermark
        // actually evicts + null-emits (no no-data cycles to do it)
        val sentinel2 = new java.sql.Timestamp(
          sentinelTs.getTime + 365L * 24 * 3600 * 1000)
        msV.addData(Seq((-1L, -1L, sentinelTs)))
        msC.addData(Seq((-1L, sentinelTs, 0.0)))
        q.processAllAvailable()
        msV.addData(Seq((-1L, -1L, sentinel2)))
        msC.addData(Seq((-1L, sentinel2, 0.0)))
        q.processAllAvailable()
      } finally {
        q.stop()
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
          prevNoData)
      }
      s.table(sink).where(col("event_id") =!= -1L)
        .select("event_id", "user_id", "ts", "cts", "click_value")
    }),
  )

  def sql: Map[String, String] = Map(
    // the streamed day-window aggregation closes every window via the
    // watermark sentinel, so its rows equal the batch day buckets
    "q_stream_agg_period" -> cq(
      """SELECT date_trunc('day', time) AS time, band, y, x, MAX(value) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    // which copy of a duplicate survives the streamed dropDuplicates is
    // an intra-batch race, so the row carries digests only: exactly one
    // per distinct content
    "q_stream_dedup_exact" ->
      """SELECT sha256(text) AS content_hash FROM documents GROUP BY 1""",
    // the stateful count table after the final batch equals the batch
    // trigram counts (order/batching-insensitive integer sums)
    "q_stream_ngram_monitor" ->
      """WITH tok AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         wins AS (SELECT unnest(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> array_to_string(t[i:i+2], ' '))) AS gram
           FROM tok WHERE len(t) >= 3)
         SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM wins GROUP BY 1""",
    "q_stream_netcdf" -> cq(
      // both halves exactly once == the whole store projection, float32
      """SELECT date_trunc('day', time) AS time, band, y, x,
           CAST(MAX(value) AS FLOAT) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    // the broadcast map-side scorer is bit-identical to the join
    // formulation and stateless (stream-order invariant), so the
    // streaming row shares the batch oracle verbatim
    "q_stream_lm_score" -> lmPerplexitySql,
    // the streamed gate is a stateless projection -> equal to the batch
    // formulation under any micro-batch split; oracle shared verbatim
    "q_stream_decontaminate" -> decontaminateSql,
    "q_stream_curation_gate" ->
      // the BATCH formulation of the gate — identical quality + top-bigram
      // expressions as q_text_quality / q_text_repetition; the streamed
      // result must equal it under any micro-batch split
      s"""WITH $qualityCtes,
          tok AS (SELECT doc_id,
              string_split_regex(lower(trim(text)), '\\s+') AS tk
            FROM documents),
          bg AS (SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(tk) - 1, 0) + 1),
                i -> array_to_string(tk[i:i+1], ' '))) AS gg
            FROM tok WHERE len(tk) >= 2),
          bgf AS (SELECT doc_id,
              round(CAST(max(c2) AS DOUBLE) / sum(c2), 6) AS rep
            FROM (SELECT doc_id, gg, count(*) AS c2 FROM bg
                  GROUP BY doc_id, gg)
            GROUP BY doc_id)
          SELECT d.doc_id, q.quality,
            coalesce(bgf.rep, 0.0) AS top_bigram_frac
          FROM documents d JOIN q USING (doc_id)
          LEFT JOIN bgf USING (doc_id)
          WHERE q.quality >= 0.75 AND coalesce(bgf.rep, 0.0) <= 0.2""",
    // the streamed gate is stream-static joins + a verify projection ->
    // equal to the batch incremental set under any micro-batch split
    "q_stream_dedup_incremental" -> dedupIncrementalSql,
    // the streamed register table collapses to the identical estimate
    // (per-register max is batching-insensitive), so the batch replay
    // verifies the streaming execution too
    "q_stream_hll" -> hllDistinctSql,
    "q_stream_sessionize" -> cq(
      // the batch formulation again, sum rounded to 2 (see the query's
      // comment on stream-order double accumulation)
      """, lagd AS (
           SELECT band, y, x, time, value,
             CASE WHEN lag(time) OVER (PARTITION BY band, y, x
                                       ORDER BY time) IS NULL
                   OR epoch_us(time) - epoch_us(lag(time) OVER (
                        PARTITION BY band, y, x ORDER BY time))
                      > 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM cube),
         sess AS (
           SELECT band, y, x, time, value,
             SUM(ns) OVER (PARTITION BY band, y, x ORDER BY time
                           ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagd)
         SELECT band, y, x, MIN(time) AS start, MAX(time) AS "end",
           COUNT(*) AS n_events,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_value
         FROM sess GROUP BY band, y, x, sid"""),
    // the streamed gate emits the identical pair set under any
    // micro-batch split (StreamingSpec law) -> shares the batch oracle
    "q_stream_neardup" -> simhashPairsSql,
    // streaming serving == batch serving: stateless probes + per-query
    // bounded top-k state; every query completes in its arrival batch
    "q_stream_ann" -> oracleSqlIvf,
    // the streamed gate query's scoring is the batch path's exact
    // arithmetic (frozen stats, quantized integer sums), so the REAL
    // 2-micro-batch run shares the oracle verbatim
    "q_stream_search" -> bm25Sql,
    // the streaming CDC state converges to the identical snapshot —
    // base rides in as epoch "I" changes, struct-max is order-free
    "q_stream_merge" -> mergeChangelogSql,
    "q_stream_snapshot" ->
      // three appended slices, exactly once each; the optimize commit
      // between them contributes nothing
      """SELECT event_id, user_id, event_type, value FROM events""",
    "q_stream_bitmap_cube" ->
      // the incrementally maintained cube equals the raw recompute
      """SELECT event_type, date_trunc('day', ts) AS day,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1, 2""",
    "q_stream_native_sink" ->
      // the streamed slice, landed by the native sink
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 7 = 0""",
    "q_stream_cdf_mirror_cow" ->
      // the mirror ends exactly at the CoW source's latest content
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id % 3 < 2 AND event_type <> 'purchase'
           AND NOT (event_type = 'click' AND event_id < 2000)
         UNION ALL
         SELECT event_id, user_id, event_type, value + 0.5
         FROM events WHERE event_type = 'purchase'""",
    "q_stream_cdf_mirror" ->
      // the mirror ends exactly at the source's latest content —
      // q_cdf_apply's oracle verbatim
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id % 3 IN (0, 1)
           AND NOT (event_id < 3000 AND event_type = 'view')""",
    "q_stream_cdf" ->
      // q_snapshot_cdf's oracle verbatim: the multi-batch stream must
      // reproduce the batch feed exactly
      """SELECT event_id, user_id, event_type, value,
                'insert' AS _change_type,
                CAST(1 AS BIGINT) AS _commit_version
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'insert', CAST(2 AS BIGINT)
         FROM events WHERE event_id % 3 = 1
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'delete', CAST(3 AS BIGINT)
         FROM events
         WHERE event_id % 3 IN (0, 1) AND event_id < 3000
           AND event_type = 'view'""",
    "q_stream_funnel" ->
      // shared verbatim with q_funnel: the streamed state machine equals
      // the batch greedy rule under event-time-ordered arrival
      """WITH s0 AS (SELECT user_id, min(ts) AS signup_ts FROM events
              WHERE event_type = 'signup' GROUP BY 1),
         s1 AS (SELECT s0.user_id, s0.signup_ts,
              min(CASE WHEN e.ts > s0.signup_ts THEN e.ts END) AS click_ts
            FROM s0 LEFT JOIN events e
              ON e.user_id = s0.user_id AND e.event_type = 'click'
            GROUP BY 1, 2),
         s2 AS (SELECT s1.user_id, s1.signup_ts, s1.click_ts,
              min(CASE WHEN e.ts > s1.click_ts THEN e.ts END) AS purchase_ts
            FROM s1 LEFT JOIN events e
              ON e.user_id = s1.user_id AND e.event_type = 'purchase'
            GROUP BY 1, 2, 3)
         SELECT user_id, signup_ts, click_ts, purchase_ts,
                purchase_ts IS NOT NULL AS converted
         FROM s2""",
    "q_stream_join" ->
      // declarative batch twin of the watermarked stream-stream join:
      // every in-band (view, click) pair per user, inclusive bounds
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, value AS click_value FROM events
               WHERE event_type = 'click')
         SELECT v.event_id, v.user_id, v.ts, c.cts, c.click_value
         FROM v JOIN c USING (user_id)
         WHERE c.cts >= v.ts - INTERVAL 30 MINUTE
           AND c.cts <= v.ts + INTERVAL 30 MINUTE""",
    "q_stream_join_outer" ->
      // LEFT band join: matched pairs (same as q_stream_join) plus every
      // unmatched view once with null click columns
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, value AS click_value FROM events
               WHERE event_type = 'click')
         SELECT v.event_id, v.user_id, v.ts, c.cts, c.click_value
         FROM v LEFT JOIN c ON c.user_id = v.user_id
           AND c.cts >= v.ts - INTERVAL 30 MINUTE
           AND c.cts <= v.ts + INTERVAL 30 MINUTE""",
  )
}
