package graft.streaming

import graft.cube.{Cube, CubeMeta, Dim}
import graft.ops.Reducers
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the cube aggregations.
  *
  * The reference is strictly batch (SURVEY.md §2.10) — this is the
  * forward-looking streaming surface for the same semantics: an unbounded
  * cube stream (e.g. the `events` table as a feed) aggregated per calendar
  * period with late-data handling. Batch and streaming share the reducer
  * vocabulary (graft.ops.Reducers.reducer), so a process graph's
  * aggregate_temporal_period compiles to either mode.
  *
  * Scale notes: watermark + append output keeps state bounded (a group
  * closes once the watermark passes its window end); the shuffle key is
  * (window, band, y, x) — the same key the batch groupBy uses, so a
  * 1000-executor cluster partitions identically in both modes.
  */
object StreamingOps {

  /** `aggregate_temporal_period` over a streaming cube DataFrame:
    * tumbling window of `period` with `delay` watermark.
    *
    * Uses window() (not date_trunc) so the state store tracks closed
    * windows; the emitted `time` label is the window start — identical
    * labels to the batch periodBucket for hour/day/week. */
  def aggregateTemporalPeriodStream(df: DataFrame, period: String,
      reducerName: String, delay: String = "1 hour"): DataFrame = {
    val dur = period match {
      case "hour" => "1 hour"
      case "day"  => "1 day"
      case "week" => "1 week"
      case other => throw new IllegalArgumentException(
        s"streaming period '$other' not supported (calendar months/seasons" +
          " need batch recompute)")
    }
    val dims = Seq(Dim.Band, Dim.Y, Dim.X).filter(df.columns.contains)
    df.withWatermark(Dim.Time, delay)
      .groupBy(window(col(Dim.Time), dur) +: dims.map(col): _*)
      .agg(Reducers.reducer(reducerName)(col(Cube.ValueCol)).as(Cube.ValueCol))
      .withColumn(Dim.Time, col("window.start"))
      .drop("window")
      .select(col(Dim.Time) +: (dims.map(col) :+ col(Cube.ValueCol)): _*)
  }

  /** Streaming exact-dedup pass: keep the first occurrence of each content
    * hash within the watermark horizon (dropDuplicates with event-time
    * column bounds the state — the streaming analogue of Dedup.exact). */
  def dedupExactStream(df: DataFrame, textCol: String, timeCol: String,
      delay: String = "1 hour"): DataFrame =
    df.withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(timeCol, delay)
      .dropDuplicates("content_hash")

  /** One closed activity session per (band, y, x) key. */
  final case class Session(band: String, y: Double, x: Double,
      start: java.sql.Timestamp, end: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** Internal open-session state; `start`/`last` are event-time
    * MICROSECONDS — `Timestamp.getTime` millis would silently truncate
    * sub-millisecond event times and shift session boundaries (public:
    * encoder codegen must reach it). */
  final case class SessionState(
      start: Long, last: Long, n: Long, total: Double)

  private def tsToMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def microsToTs(us: Long): java.sql.Timestamp = {
    val ms = Math.floorDiv(us, 1000L)
    val t = new java.sql.Timestamp(ms)
    t.setNanos((Math.floorMod(ms, 1000L) * 1000000L +
      Math.floorMod(us, 1000L) * 1000L).toInt)
    t
  }

  /** Gap-based sessionization — the custom-keyed-state surface
    * (`flatMapGroupsWithState` + event-time timeout). A session is a run
    * of events on one (band, y, x) key with inter-event gaps below
    * `gapMs`; it closes when a larger gap arrives in-stream or when the
    * watermark passes last+gap (timeout), so state is bounded by the
    * number of OPEN sessions only. The shuffle key matches the batch
    * pixel key, so a 1000-executor cluster partitions identically. */
  def sessionizeStream(df: DataFrame, gapMs: Long,
      delay: String = "1 hour"): Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    // the watermarked event-time column must survive projection for the
    // event-time timeout to bind; millis derive from it inside the lambda
    val keyed = df.withWatermark(Dim.Time, delay)
      .select(col(Dim.Band), col(Dim.Y), col(Dim.X), col(Dim.Time),
        col(Cube.ValueCol).cast("double"))
      .as[(String, Double, Double, java.sql.Timestamp, Double)]
    keyed.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (String, Double, Double),
         events0: Iterator[(String, Double, Double, java.sql.Timestamp, Double)],
         state: GroupState[SessionState]) =>
          val events = events0.map(e =>
            (e._1, e._2, e._3, tsToMicros(e._4), e._5))
          val gapUs = gapMs * 1000L
          def close(s: SessionState): Session = Session(key._1, key._2, key._3,
            microsToTs(s.start), microsToTs(s.last), s.n, s.total)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).toSeq
            state.remove()
            out.iterator
          } else {
            // batch-local interval merge: the open state (an interval) and
            // every batch event sort together by start time, then fold with
            // the gap rule — so late events above the watermark merge with
            // EACH OTHER and can bridge into the open session exactly as
            // the batch formulation would (event-by-event folding against
            // single state closed strays prematurely: two late events 2min
            // apart became two singleton sessions, and a stray below
            // start-gap could be emitted even though a later event in the
            // same batch bridged the gap)
            val items: Seq[SessionState] =
              (state.getOption.toSeq ++
                events.map(e => SessionState(e._4, e._4, 1, e._5)))
                .sortBy(s => (s.start, s.last))
            val merged = scala.collection.mutable.ArrayBuffer[SessionState]()
            items.foreach { it =>
              merged.lastOption match {
                case Some(prev) if it.start <= prev.last + gapUs =>
                  merged(merged.length - 1) = SessionState(prev.start,
                    math.max(prev.last, it.last),
                    prev.n + it.n, prev.total + it.total)
                case _ => merged += it
              }
            }
            // all but the newest session are separated by > gap from
            // everything that follows — close them; the newest stays open
            val closed = merged.dropRight(1).map(close)
            val cur = merged.lastOption
            cur.foreach { s =>
              state.update(s)
              // flatMapGroupsWithState still delivers events older than the
              // watermark; an unguarded timeout could then be <= the
              // current watermark, which Spark rejects and the query dies.
              // Timeout is in MILLIS — round the micros gap boundary up.
              state.setTimeoutTimestamp(
                math.max(Math.floorDiv(s.last + gapUs, 1000L) + 1L,
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Batch counterpart of [[sessionizeStream]]: gap-based session
    * assignment via a per-key ordered window (lag → new-session flag →
    * running sum = session ordinal), then one aggregation per session.
    * Window partitions are per-pixel time series — short by construction —
    * so no skewed global sort. StreamingSpec pins batch == streaming on
    * the same input. */
  def sessionizeBatch(df: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dims = Seq(Dim.Band, Dim.Y, Dim.X).filter(df.columns.contains)
    val w = Window.partitionBy(dims.map(col): _*).orderBy(col(Dim.Time))
    // MICROsecond gap test: unix_millis truncation could disagree with
    // the streaming path (and the epoch_us oracle) for an inter-event
    // gap within 1 ms of the boundary
    val tUs = expr(s"unix_micros(${Dim.Time})")
    val newSess = when(lag(tUs, 1).over(w).isNull ||
      tUs - lag(tUs, 1).over(w) > gapMs * 1000L, 1L).otherwise(0L)
    df.withColumn("_sess", sum(newSess).over(w))
      .groupBy((dims :+ "_sess").map(col): _*)
      .agg(min(col(Dim.Time)).as("start"), max(col(Dim.Time)).as("end"),
        count(lit(1)).as("n_events"),
        sum(col(Cube.ValueCol).cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .drop("_sess")
  }

  /** One streaming near-dup match: `id_a < id_b`, Hamming distance of the
    * two 64-bit simhashes. A pair can surface from several buckets —
    * consumers `dropDuplicates("id_a","id_b")` per sink batch. */
  final case class DupMatch(id_a: Long, id_b: Long, dist: Int)

  /** Per-bucket dedup state: ids + simhashes seen in this bucket, as flat
    * primitive arrays (public: encoder codegen must reach it). */
  final case class BucketState(ids: Array[Long], hashes: Array[Long])

  /** Streaming NEAR-dup gate: the simhash band-pair blocking of
    * [[graft.text.Dedup.simhashPairs]] as a stateful stream stage. Each
    * incoming doc hashes once (pure codegen expression), explodes to its
    * 28 pair-key buckets, and `flatMapGroupsWithState` keyed by bucket
    * compares it against every prior doc in that bucket by popcount —
    * emitting a [[DupMatch]] the moment the later duplicate arrives.
    *
    * Recall is EXACT to Hamming ≤ `maxDist` (≤ 6) and identical to the
    * batch self-join: both modes derive candidates from the same
    * [[graft.text.Dedup.simhashPairKeys]] expression, and every
    * qualifying pair shares at least one bucket, so the streamed match
    * set equals the batch pair set on the same input regardless of how
    * the docs split across micro-batches (pinned in StreamingSpec).
    *
    * Scale/state note: state is 16 bytes × 28 buckets per doc kept
    * FOREVER (near-dup detection is against all history by definition).
    * At 1 B docs that is ~450 GB across the cluster's state stores —
    * workable with RocksDB state; bound it for bounded-horizon dedup by
    * composing with a TTL (`GroupStateTimeout.ProcessingTimeTimeout`) or
    * periodic batch re-baselining. The shuffle key is the bucket — the
    * same key as the batch band-join, so cluster partitioning matches. */
  def dedupStreamSimhash(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 6, maxBucketSize: Int = Int.MaxValue): Dataset[DupMatch] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxDist <= 6,
      s"simhash blocking guarantees recall only to Hamming 6, got $maxDist")
    val spark = df.sparkSession
    import spark.implicits._
    val h = graft.text.Dedup.simhash(col(textCol))
    val keyed = df
      .select(col(idCol).cast("long").as("id"), h.as("h"))
      .select(col("id"), col("h"),
        explode(graft.text.Dedup.simhashPairKeys(col("h"))).as("b"))
      .select(col("id"), col("h"), col("b.band"), col("b.bh"))
      .as[(Long, Long, Int, Long)]
    keyed.groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), docs0: Iterator[(Long, Long, Int, Long)],
         state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(
            BucketState(Array.emptyLongArray, Array.emptyLongArray))
          // ascending id within the batch: when both ends of a pair land
          // in one micro-batch the smaller id is "prior", so the emitted
          // (min, max) orientation is deterministic under any batch split
          val batch = docs0.toSeq.sortBy(_._1)
          // flat arrays grown once per batch: the prior List state was
          // re-scanned via boxed cons cells, and a re-ingested id both
          // duplicated state and re-emitted its pairs (ADVICE r3) — now a
          // known id is skipped entirely (no growth, no re-emission)
          var ids = java.util.Arrays.copyOf(st.ids,
            st.ids.length + batch.length)
          var hs = java.util.Arrays.copyOf(st.hashes,
            st.hashes.length + batch.length)
          var n = st.ids.length
          val out = scala.collection.mutable.ArrayBuffer.empty[DupMatch]
          batch.foreach { case (id, hv, _, _) =>
            var isDup = false
            var i = 0
            while (i < n && !isDup) { if (ids(i) == id) isDup = true; i += 1 }
            if (!isDup) {
              i = 0
              while (i < n) {
                val d = java.lang.Long.bitCount(hs(i) ^ hv)
                if (d <= maxDist)
                  out += DupMatch(math.min(ids(i), id), math.max(ids(i), id), d)
                i += 1
              }
              // maxBucketSize bounds worst-case hot-bucket state; beyond
              // it new members still match against the bucket's history
              // but are not remembered (documented degradation — bound it
              // only for bounded-horizon dedup)
              if (n < maxBucketSize) { ids(n) = id; hs(n) = hv; n += 1 }
            }
          }
          state.update(BucketState(java.util.Arrays.copyOf(ids, n),
            java.util.Arrays.copyOf(hs, n)))
          out.iterator
      }
  }

  /** Streaming curation gate: the quality + top-bigram-repetition filters
    * of the batch curation pipeline as a STATELESS streaming stage — the
    * exact same expressions, so stream output == batch output on the same
    * rows (pinned in StreamingSpec). The stateful stages downstream
    * (dedup, sessionization) compose via [[dedupExactStream]] etc. */
  /** Streaming n-gram frequency counts — the INCREMENTAL boilerplate
    * monitor: the same one-pass TokenWindows explode as
    * [[graft.text.Search.topNgrams]] feeding a streaming groupBy(gram)
    * count. Run with complete/update output; the state store holds one
    * long per distinct gram (Zipf-bounded like the LM table), and after
    * any prefix of the stream the counts equal the batch counts over the
    * rows ingested so far (pinned in StreamingSpec), so `ORDER BY count
    * DESC LIMIT k` over the sink is the live top-k. */
  def ngramCountsStream(df: DataFrame, textCol: String,
      n: Int): DataFrame =
    df.select(explode(graft.functions.TextHashExprs
        .tokenWindows(lower(trim(col(textCol))), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_occurrences"))

  /** Live distinct-count monitor: the HLL register table maintained
    * incrementally over a stream — an update-mode stateful groupBy max
    * whose state is AT MOST |groups| x 2^p rows no matter how many
    * values arrive (the unbounded-state concern of a streaming
    * count(distinct) is exactly what the sketch removes). The sink holds
    * the register table; estimates come from
    * [[graft.text.Sketches.hllEstimate]] over the sink — after any
    * stream prefix they equal the batch [[graft.text.Sketches.hllDistinct]]
    * over the rows ingested so far (pinned in StreamingSpec), because
    * per-register max is order- and batching-insensitive. */
  def distinctRegistersStream(df: DataFrame, value: Column,
      groupCols: Seq[String], p: Int = 11): DataFrame =
    graft.text.Sketches.hllRegisters(df, value, groupCols, p)

  /** Streaming INGESTION near-dup gate: incoming documents stream
    * against the KEPT reference corpus — the production shape of
    * [[graft.text.Dedup.minhashLshIncremental]] (a Kafka-fed shard
    * gated before it joins the corpus). The stream side minhashes and
    * explodes to its band rows (stateless projections, the per-doc
    * shingle array computed once and carried through), then TWO
    * stream-static inner joins — the reference band table on (band, bh)
    * and the reference shingle table on ref_id — and the exact Jaccard
    * verify as a final projection. No state store, no watermark: every
    * operator is append-legal, so a matching pair emits in the
    * micro-batch its incoming side arrives.
    *
    * Recall is identical to the batch incremental gate (same
    * minhash/band keys both sides), and the verified output SET equals
    * it under any micro-batch split; a pair sharing several bands emits
    * once per band — collapse with dropDuplicates at the sink (the
    * batch path's own dropDuplicates is stateful and append-illegal).
    *
    * 100 TB shape: the reference band and shingle tables are the
    * bucketed corpus store ([[graft.text.Dedup.minhashLshIncremental]]
    * scaladoc); Spark plans the static side's scan once per micro-batch
    * with partition pruning on the bucketed keys, and only colliding
    * candidates reach the shingle join. */
  def dedupStreamMinhashIncremental(inc: DataFrame, ref: DataFrame,
      textCol: String, idCol: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.7): DataFrame = {
    import graft.functions.TextHashExprs
    val refBands = ref
      .select(col(idCol).as("ref_id"),
        TextHashExprs.minhashText(lower(trim(col(textCol))), shingleN, k)
          .as("sig"))
      .select(col("ref_id"),
        explode(graft.text.Dedup.lshBands(col("sig"), k, bands)).as("b"))
      .select(col("ref_id"), col("b.band"), col("b.bh"))
    val refShingles = ref.select(col(idCol).as("ref_id"),
      sort_array(TextHashExprs
        .shingleHashes(lower(trim(col(textCol))), shingleN)).as("sh_r"))
    val incBands = inc
      .select(col(idCol).as("inc_id"),
        TextHashExprs.minhashText(lower(trim(col(textCol))), shingleN, k)
          .as("sig"),
        sort_array(TextHashExprs
          .shingleHashes(lower(trim(col(textCol))), shingleN)).as("sh_i"))
      .select(col("inc_id"), col("sh_i"),
        explode(graft.text.Dedup.lshBands(col("sig"), k, bands)).as("b"))
      .select(col("inc_id"), col("sh_i"), col("b.band"), col("b.bh"))
    incBands
      .join(refBands, Seq("band", "bh"))
      .join(refShingles, Seq("ref_id"))
      .withColumn("jaccard",
        TextHashExprs.jaccardLongSorted(col("sh_i"), col("sh_r")))
      .where(col("jaccard") >= threshold)
      .select(col("inc_id"), col("ref_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Streaming benchmark-decontamination gate — EXACT, stateless, and
    * append-legal: the eval suite's distinct shingle hashes ship as a
    * LITERAL array (benchmarks are small by definition — the same
    * bounded-side argument as [[graft.text.Dedup.decontaminate]]'s
    * broadcast), and each arriving document's contamination count is a
    * pure projection `size(array_intersect(doc_hashes, eval_hashes))`.
    * No state store, no watermark, no join machinery — the serving
    * shape of the Bloom variant ([[graft.functions.BloomExprs]]) but
    * with zero false POSITIVES too, because the full hash set replaces
    * the sketch. Identical hashes to the batch operator (both sides use
    * TextHashExprs.shingleHashes, distinct within doc), so streamed
    * output equals the batch formulation row-for-row under any
    * micro-batch split.
    *
    * 100 TB shape: the literal array is |eval-suite grams| longs (a few
    * MB for real benchmarks); per-doc cost is one sorted-probe HOF over
    * the doc's own shingles. For eval suites too big to inline, fall
    * back to the Bloom prefilter + batch exact verify. */
  def decontaminateStream(df: DataFrame, evalHashes: Array[Long],
      textCol: String, idCol: String, shingleN: Int = 5): DataFrame = {
    val docHashes = graft.functions.TextHashExprs
      .shingleHashes(lower(trim(col(textCol))), shingleN)
    // membership against the eval set via ONE carried sorted array +
    // binary search per element: the previous
    // size(array_intersect(docHashes, lit(evalHashes))) rebuilt a hash
    // set of the full eval side on EVERY row (r14; ~50k inserts/row at
    // sf0.1 — measured 3.8 s → ~1.6 s for the gate row). Counts are
    // identical: shingleHashes emits DISTINCT hashes, so the distinct
    // intersection size equals the per-element membership count.
    val sortedEval = evalHashes.sorted
    df.select(col(idCol),
        graft.functions.TextHashExprs
          .countInSortedSet(docHashes, sortedEval).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= 1L)
  }

  /** STREAM-STREAM inner join within a time band: pair left and right
    * rows sharing `keys` whose timestamps lie within `bandMs` of each
    * other (`|leftTs − rightTs| <= bandMs`, inclusive). Both sides are
    * watermarked with `watermarkMs` lateness; Spark's stream-stream join
    * then bounds EACH side's buffered state to watermark + band — the
    * two knobs that make an unbounded two-stream correlation run in
    * fixed memory (the click/view attribution shape Kafka-fed pipelines
    * need; batch twin: [[graft.ops.TableJoins.rangeJoin]] with the band
    * as the interval).
    *
    * Matches emit as they form (inner-join append semantics) — no
    * sentinel flush needed; the watermark governs state EVICTION and
    * late-data drops, not emission. Rows later than the watermark may
    * silently miss partners (the documented streaming trade: set
    * `watermarkMs` to the pipeline's real out-of-orderness bound;
    * StreamingSpec pins batch-split invariance under in-watermark
    * arrival). */
  /** @param joinType `inner` (default) or `left_outer`. Left-outer adds
    *   the genuinely streaming-hard semantics: an unmatched left row can
    *   only emit (with null right columns) once the WATERMARK proves no
    *   future right row can still land in its band — i.e. unmatched
    *   results trail the watermark, matched results emit eagerly. The
    *   harness therefore closes the run with a far-future sentinel on
    *   both streams so every pending unmatched row flushes
    *   deterministically. */
  def joinStreamsWithin(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      bandMs: Long, watermarkMs: Long,
      joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "joinStreamsWithin needs equality keys")
    require(bandMs >= 0, "bandMs must be >= 0")
    require(joinType == "inner" || joinType == "left_outer",
      s"joinStreamsWithin supports inner/left_outer, got $joinType")
    val l = left.withWatermark(leftTs, s"$watermarkMs milliseconds")
    val r = right.withWatermark(rightTs, s"$watermarkMs milliseconds")
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val band = keyCond &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $bandMs MILLISECONDS") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $bandMs MILLISECONDS")
    // drop the right side's duplicate key columns from the output (null
    // on unmatched outer rows anyway; the left copy is authoritative)
    keys.foldLeft(l.join(r, band, joinType))((df, k) => df.drop(r(k)))
  }

  /** Per-key streaming FUNNEL — the stateful twin of
    * [[graft.ops.Funnel.funnel]]: a 3-slot per-user state machine
    * (signup/click/purchase micros, −1 unset) folds each batch's events
    * in event-time order under the greedy strictly-after rule, and the
    * completed row flushes on event-time TIMEOUT once the watermark
    * passes (the sessionize pattern). State is three longs per user —
    * bounded at any stream length.
    *
    * Exactness contract: the greedy rule's cross-stage dependency means
    * an event arriving AFTER a later-timestamped event of the previous
    * stage has already committed cannot retroactively lower it without
    * unbounded state; results equal the batch funnel whenever events
    * arrive in event-time order across batches (the harness feeds
    * sorted; production = the watermark's disorder bound, as with the
    * outer stream-stream join). */
  case class FunnelState(s: Long, c: Long, p: Long)
  case class FunnelRow(user_id: Long, signup_ts: java.sql.Timestamp,
      click_ts: Option[java.sql.Timestamp],
      purchase_ts: Option[java.sql.Timestamp], converted: Boolean)

  /** @param flushQuietMs a user's row flushes once the watermark has
    *   advanced this far past the batch that last touched their state —
    *   the "no activity for a month → the funnel outcome is final" rule.
    *   Too small and rows flush (finally, correctly for their data so
    *   far, but possibly before a later stage event) mid-stream; the
    *   harness uses a margin larger than the data's span so exactly the
    *   sentinel flushes everything. */
  def funnelStream(df: DataFrame, stages: Seq[String],
      delay: String = "1 hour",
      flushQuietMs: Long = 30L * 24 * 3600 * 1000): Dataset[FunnelRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.length == 3, "funnelStream models a 3-stage funnel")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.withWatermark("ts", delay)
      .select(col("user_id").cast("long"), col("event_type"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events0: Iterator[(Long, String, java.sql.Timestamp)],
         state: GroupState[FunnelState]) =>
          def row(st: FunnelState): Option[FunnelRow] =
            if (st.s < 0) None // never entered the funnel (batch: no s0 row)
            else Some(FunnelRow(user, microsToTs(st.s),
              if (st.c >= 0) Some(microsToTs(st.c)) else None,
              if (st.p >= 0) Some(microsToTs(st.p)) else None,
              st.p >= 0))
          if (state.hasTimedOut) {
            val out = state.getOption.flatMap(row).toSeq
            state.remove()
            out.iterator
          } else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            var maxTsMs = 0L
            events0.toSeq.sortBy(e => tsToMicros(e._3)).foreach { e =>
              val t = tsToMicros(e._3)
              maxTsMs = math.max(maxTsMs, Math.floorDiv(t, 1000L))
              if (e._2 == stages(0) && st.s < 0) st = st.copy(s = t)
              else if (e._2 == stages(1) && st.s >= 0 && st.c < 0 &&
                t > st.s) st = st.copy(c = t)
              else if (e._2 == stages(2) && st.c >= 0 && st.p < 0 &&
                t > st.c) st = st.copy(p = t)
            }
            state.update(st)
            // quiet period anchors on EVENT time, not the watermark: in
            // the first batch the watermark is still 0 (epoch), and
            // 0 + quiet is 1970 — an immediate spurious flush
            state.setTimeoutTimestamp(
              math.max(maxTsMs, state.getCurrentWatermarkMs()) + flushQuietMs)
            Iterator.empty
          }
      }
  }

  /** Streaming ANN serving against a persisted IVF index
    * ([[graft.text.Similarity.writeIvfStore]]) — the online-retrieval
    * production shape: query vectors arrive on a stream, probe their
    * nProbe nearest frozen centroids (a stateless literal-argmin
    * projection), join stream-static against the store's assignment on
    * `centroid_id`, score exact cosine, and reduce to the per-query
    * top-k with the bounded [[graft.functions.TopKAgg]] — state is k
    * entries per query, never the candidate set. Each query's
    * candidates all land in its own arrival micro-batch (stream-static
    * joins never split a row), so the aggregate's final value for a
    * query is complete as soon as its batch commits — serve with
    * update mode in production (each query emits once, state can be
    * dropped downstream); the gate harness uses complete mode and
    * compares the final table. Results are row-identical to the batch
    * [[graft.text.Similarity.topKIvfStore]] (same probes, same
    * scoring, same tie rules — pinned by the shared oracle). */
  def annServeStream(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame =
    graft.text.Similarity.ivfStoreCandidates(spark, indexPath, queries,
        idCol, vecCol, nProbe, excludeSelf)
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(k)(
        col("neighbor_id"), col("cos")).as("topk"))

  /** Online keyword retrieval against a persisted
    * [[graft.text.Search.writeSearchIndex]] store — the search twin of
    * [[annServeStream]]: queries stream in as (query_id, terms[]) and
    * every one completes in its arrival micro-batch. The store is FROZEN
    * for the stream's lifetime (the IVF-centroid contract): corpus stats
    * collapse to driver literals at stream start, the segment-aggregated
    * df table and the postings table are STATIC join sides, and scoring
    * is [[graft.text.Search.bm25Indexed]]'s exact arithmetic — idf from
    * the same global longs (computed in-expression over the identical
    * double sequence), per-(query, doc, term) contributions 1e-9
    * long-quantized before the per-(query, doc) integer sum, so a
    * streamed query is bit-identical to the batch serving path under any
    * micro-batch split (law-tested). `array_distinct` guards duplicate
    * terms STATELESSLY (no dropDuplicates state). Update mode in
    * production (each query's rows finalize in its batch); complete in
    * the memory-sink harness. */
  def bm25ServeStream(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, queryIdCol: String,
      termsCol: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val idCol = spark.read.parquet(s"$indexPath/params").head().getString(1)
    val st = spark.read.parquet(s"$indexPath/stats")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("sdl")).head()
    val nDocs = st.getLong(0)
    require(nDocs > 0, "bm25ServeStream needs a non-empty index")
    require(!st.isNullAt(1),
      "bm25ServeStream: index stats carry n_docs > 0 but a NULL token " +
        "total (a build over all-null text) — rebuild over real text")
    val avgdl = st.getLong(1).toDouble / nDocs.toDouble
    val dfAgg = spark.read.parquet(s"$indexPath/df")
      .groupBy(col("term")).agg(sum(col("df")).as("_df"))
    val postings = spark.read.parquet(s"$indexPath/postings")
      .select(col(idCol), col("dl"), col("term"), col("tf"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(col(termsCol))).as("term"))
    // (nDocs − df + 0.5)/(df + 0.5) + 1 over exact-in-double longs —
    // the identical operation sequence bm25Indexed runs driver-side
    val dfc = col("_df").cast("double")
    val idf = log((lit(nDocs.toDouble) - dfc + lit(0.5)) /
      (dfc + lit(0.5)) + lit(1.0))
    val tfc = col("tf").cast("double")
    val contrib = idf * ((tfc * lit(k1 + 1.0)) /
      (tfc + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / lit(avgdl)))))
    qterms.join(dfAgg, "term").join(postings, "term")
      .withColumn("_q", round(contrib * lit(1000000000.0), 0).cast("long"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_hits"),
        sum(col("_q")).as("_qs"))
      .withColumn("score", round(
        col("_qs").cast("double") / lit(1000000000.0), 6))
      .drop("_qs")
  }

  /** Streaming CDC upsert state — the ingestion twin of
    * [[graft.ops.TableJoins.applyChangelog]]: a stream of timestamped
    * I/U/D change rows reduces to the per-key LATEST via a struct-max
    * aggregate whose state is ONE struct per key at any stream length
    * (order-free, so late or re-ordered micro-batches converge to the
    * same winner). The op flag stays in the output: downstream decides
    * how to apply deletes (complete mode → filter `op <> 'D'` on the
    * sink table gives exactly [[graft.ops.TableJoins.applyChangelog]]'s
    * snapshot when base rows ride in as epoch-timestamped "I" changes;
    * update mode emits per-key changes and delegates delete handling).
    * Equal-timestamp collisions resolve by (op, payload) struct order —
    * the same documented tie rule as the batch operator. */
  def changelogLatestStream(changes: DataFrame, keys: Seq[String],
      tsCol: String, opCol: String): DataFrame = {
    val payload = changes.columns
      .filterNot(c => keys.contains(c) || c == tsCol || c == opCol).toSeq
    val ordered = struct(col(tsCol).as("_ts") +: col(opCol).as("_op") +:
      payload.map(col): _*)
    changes.groupBy(keys.map(col): _*)
      .agg(max(ordered).as("_w"))
      .select(keys.map(col) ++ (col("_w._op").as(opCol) +:
        payload.map(p => col(s"_w.$p").as(p))): _*)
  }

  def curationGateStream(df: DataFrame, textCol: String,
      minQuality: Double, maxTopBigramFrac: Double): DataFrame = {
    import graft.text.TextAnalysis
    val st = graft.functions.TextHashExprs
      .repetitionStats(lower(trim(col(textCol))))
    df.withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("top_bigram_frac", round(when(st.getField("n2") > 0,
        st.getField("top2").cast("double") /
          st.getField("n2").cast("double")).otherwise(0.0), 6))
      .where(col("quality") >= minQuality &&
        col("top_bigram_frac") <= maxTopBigramFrac)
  }
}
