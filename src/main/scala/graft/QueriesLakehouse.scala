package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.ops._
import graft.text.{Classifier, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._

/** Lakehouse tier of the driver-contract query surface (r14 hygiene split of
  * SparkEntry's single 10.7k-line file; zero behavior change). Each tier
  * object contributes a `q` (queries) and `sql` (DuckDB oracle) map;
  * `SparkEntry.queries`/`SparkEntry.oracleSql` concatenate the tiers.
  * Shared helpers stay on SparkEntry as `private[graft]`. */
private[graft] object QueriesLakehouse {

  def q: Map[String, Q] = Map(
    // --- temporal table joins + storage layout (round 6) -----------------
    "q_asof_join" -> ((s, dir) => {
      // point-in-time attribution: each view event picks up the most
      // recent at-or-before click by the same user — the union-sort-
      // window as-of join (ONE exchange over both sides, no per-key
      // pair blow-up; see TableJoins scaladoc)
      val ev = readEvents(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.ops.TableJoins.asofJoin(views, clicks, Seq("user_id"),
          "ts", "cts", Seq("click_ts", "click_value"))
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    }),
    "q_asof_tolerance" -> ((s, dir) => {
      // strict (< not <=) + bounded-staleness variant: a click older
      // than 2 h no longer explains the view
      val ev = readEvents(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.ops.TableJoins.asofJoin(views, clicks, Seq("user_id"),
          "ts", "cts", Seq("click_ts", "click_value"), strict = true,
          toleranceMicros = Some(2L * 3600 * 1000000))
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    }),
    "q_range_join" -> ((s, dir) => {
      // interval containment via the binning trick: error events vs
      // "busy hours" (hours with >= 8 click/view events). The inequality
      // join runs as an EQUI-join on the hour bin — each (point,
      // interval) pair meets in exactly one bin, no cartesian product
      val ev = readEvents(s, dir)
      val busy = ev.where(col("event_type").isin("click", "view"))
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("n_events"))
        .where(col("n_events") >= 8)
        .withColumn("window_end",
          col("window_start") + expr("INTERVAL 1 HOUR")
            - expr("INTERVAL 1 MICROSECOND"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.TableJoins.rangeJoin(errors, busy, "ts",
          "window_start", "window_end",
          binMicros = 3600L * 1000000)
        .select("event_id", "user_id", "ts", "window_start", "n_events")
    }),
    "q_graph_funnel" -> ((s, dir) => {
      // the funnel driven through the openEO JSON graph: load_table →
      // funnel compiles to the identical plan as q_funnel's Scala call;
      // oracle shared verbatim. Events staged through readEvents for
      // the ts-encoding dispatch, as q_graph_asof
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_fun_$slug"
      readEvents(s, dir).select("user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$tmp/ev")
      val graph = """{
        "d": {"process_id": "load_table", "arguments": {"id": "ev"}},
        "f": {"process_id": "funnel", "arguments": {
          "data": {"from_node": "d"}, "key": "user_id", "ts": "ts",
          "stage": "event_type",
          "stages": ["signup", "click", "purchase"]}, "result": true}}"""
      new GraphCompiler(s, Map.empty, tmp + "_res",
          tables = Map("ev" -> s"$tmp/ev"))
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_tpch_q10" -> ((s, dir) => {
      // returned-item reporting shape: 4-way join (lineitem ⋈ orders ⋈
      // customer + broadcast nation), quarter-window filter, top-20
      // customers by lost revenue as TakeOrderedAndProject
      val n = s.read.parquet(s"$dir/nation.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_returnflag") === "R")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(dimHint(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(drevenue.as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q_running_total" -> ((s, dir) => {
      // per-user running purchase total over time — decimal cumulative
      // sum in an ordered window (ties on ts aggregate together via the
      // RANGE frame, so the result is order-deterministic)
      val ev = readEvents(s, dir).where(col("event_type") === "purchase")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      ev.select(col("event_id"), col("user_id"), col("ts"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
    }),
    "q_skew_report" -> ((s, dir) => {
      // partition-key skew observability: per-key row share + the
      // cumulative share of the top keys — the "is this key hot enough
      // to salt" report, one aggregation + one tiny window over |keys|
      val ev = readEvents(s, dir)
      import org.apache.spark.sql.expressions.Window
      val counts = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"))
      val tot = counts.agg(sum(col("n_rows"))).head().getLong(0)
      val w = Window.orderBy(col("n_rows").desc, col("user_id"))
      counts
        .withColumn("share",
          round(col("n_rows").cast("double") / lit(tot.toDouble), 6))
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_share",
          round(sum(col("n_rows")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / lit(tot.toDouble), 6))
        .where(col("rank") <= 20)
    }),
    "q_agg_incremental" -> ((s, dir) => {
      // incremental view maintenance: three ts-range shards fold
      // through the (count, decimal-sum) state monoid — equal to the
      // one-shot aggregate by the monoid law (also law-tested with
      // shard permutations)
      val ev = readEvents(s, dir)
      val shards = Seq(
        ev.where(dayofmonth(col("ts")) <= 10),
        ev.where(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
        ev.where(dayofmonth(col("ts")) > 20))
      graft.ops.Incremental.incrementalAgg(shards,
        Seq("user_id", "event_type"), "value")
    }),
    "q_spatial_join" -> ((s, dir) => {
      // events scattered to pseudo-coordinates join three literal
      // triangles through the point-in-polygon kernel — one row per
      // (point, containing polygon)
      val px = col("value") % lit(20.0)
      val py = (col("value") * lit(7.0)) % lit(20.0)
      val pts = readEvents(s, dir)
        .select(col("event_id"), px.as("px"), py.as("py"))
      graft.ops.Geo.spatialJoin(pts, col("px"), col("py"), spatialJoinPolys)
        .select("event_id", "px", "py", "poly_id")
    }),
    "q_merge_changelog" -> ((s, dir) => {
      // the lakehouse MERGE shape: a base snapshot (orders — unique
      // key) + a CDC log (price updates on orderkey%5, deletes on %15,
      // timestamped by orderdate) produce the next snapshot via ONE
      // union + struct-max aggregate (one shuffle, O(1) state per
      // key) — never a full outer join
      val o = s.read.parquet(s"$dir/orders.parquet")
      val base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
      val changes = o.where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("change_ts"),
          when(col("o_orderkey") % 15 === 0, "D").otherwise("U").as("op"),
          col("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      graft.ops.TableJoins.applyChangelog(base, changes,
        Seq("o_orderkey"), "change_ts", "op")
    }),
    "q_scd2_intervals" -> ((s, dir) => {
      // SCD2 history build: each user's purchase values become
      // [valid_from, valid_to) rows, null-terminated current row —
      // one window over one key exchange
      val ev = readEvents(s, dir)
      val changes = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value")) // dedupe any same-ts changes
      graft.ops.TableJoins.validityIntervals(changes,
          Seq("user_id"), "ts")
        .select("user_id", "valid_from", "valid_to", "value", "is_current")
    }),
    "q_csv_source" -> ((s, dir) => {
      // source-format breadth: events round-trip through CSV with an
      // explicit schema (timestamps as epoch micros — CSV has no
      // timestamp type) and through JSON Lines, then the two reads
      // must agree row-for-row; oracle = the original projection
      val ev = readEvents(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_fmt_$slug"
      ev.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      ev.write.mode("overwrite").json(s"$tmp/json")
      val schema = "event_id LONG, user_id LONG, event_type STRING, " +
        "ts_us LONG, value DOUBLE"
      val fromCsv = s.read.schema(schema).option("header", "true")
        .csv(s"$tmp/csv")
      val fromJson = s.read.schema(schema).json(s"$tmp/json")
      // inner join on the full row: any divergence drops rows and the
      // oracle's row count catches it
      fromCsv.join(fromJson,
        Seq("event_id", "user_id", "event_type", "ts_us", "value"))
    }),
    "q_schema_evolution" -> ((s, dir) => {
      // schema EVOLUTION read: generation 1 of a store lacks a column
      // that generation 2 adds (the normal life of a long-lived corpus
      // store); mergeSchema unions the footers at planning time and the
      // old generation's rows surface the new column as NULL — no
      // rewrite of historical files, the 100 TB contract
      val o = s.read.parquet(s"$dir/orders.parquet")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_evo_$slug"
      o.where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/gen1")
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$tmp/gen1", s"$tmp/gen2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    }),
    "q_timetravel" -> ((s, dir) => {
      // SNAPSHOT TABLE with a transaction log (ops/Snapshots — the
      // mini Delta/Iceberg layer): three commits (append, append,
      // overwrite), then a TIME-TRAVEL read pinned to version 2 — the
      // pre-overwrite state reproduced exactly even though the latest
      // snapshot has entirely different contents. Atomic manifest
      // claims + O(1) file-list read planning are the 100 TB story.
      val p = buildSnapshotStore(s, dir)
      Snapshots.read(s, p, version = Some(2L))
    }),
    "q_snapshot_changes" -> ((s, dir) => {
      // INCREMENTAL consumption of the same log: changes(1, 3] reads
      // only the files ADDED by versions 2 and 3 — a downstream index/
      // aggregate maintenance job consumes new commits without ever
      // rescanning the table (pairs with Incremental/appendSearchIndex)
      val p = buildSnapshotStore(s, dir)
      Snapshots.changes(s, p, fromExclusive = 1L, toInclusive = 3L)
    }),
    "q_snapshot_optimize" -> ((s, dir) => {
      // maintenance OPTIMIZE inside the log: the post-overwrite snapshot
      // rewrites into 2 Z-ORDER-clustered files (Morton key over
      // user_id × value) as a NEW version — same rows bit-for-bit, and
      // later scanWhere calls data-skip on BOTH dims. changes() skips
      // the commit (spec-pinned) so incremental consumers never
      // re-ingest a maintenance pass.
      val p = buildSnapshotStore(s, dir)
      Snapshots.optimize(s, p, numFiles = 2,
        zorderBy = Seq(("user_id", 0.0, 150.0), ("value", 0.0, 500.0)),
        zBits = 8)
      Snapshots.read(s, p)
    }),
    "q_snapshot_skip" -> ((s, dir) => {
      // DATA-SKIPPING scan: appends land range-partitioned on event_id,
      // so each file carries a tight per-file min/max in the manifest;
      // the key-range read prunes non-overlapping files BEFORE any I/O
      // and the exact predicate stays on the survivors (plan-pinned in
      // SnapshotsSpec). At 100 TB this is the manifest-stats answer to
      // "scan one key band of a petabyte table".
      val p = freshSnapshotPath(dir, "sk")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.repartitionByRange(6, col("event_id")), p)
      Snapshots.scanWhere(s, p,
        col("event_id") >= 2000L && col("event_id") < 5000L)
    }),
    "q_snapshot_count" -> ((s, dir) => {
      // COUNT(*) answered from LOG METADATA (SupportsPushDownAggregates
      // on the V2 source): the manifest's exact per-file row counts
      // make the petabyte-table row-count query a zero-file-read
      // planning lookup — pinned in SnapshotSourceSpec. Rows = the
      // post-overwrite snapshot, stable under the optimize commits
      // q_snapshot_optimize may add (maintenance never changes rows).
      val p = buildSnapshotStore(s, dir)
      s.read.format("graft-snapshot").load(p).groupBy().count()
        .select(col("count").as("n_rows"))
    }),
    "q_snapshot_partitioned" -> ((s, dir) => {
      // PARTITIONED commit (Delta partitionBy-at-commit): the append
      // writes one file set per event_type with the exact value in the
      // manifest, so the IN predicate prunes the other types' files
      // EXACTLY (set membership, not a [min,max] range that would keep
      // everything sorting between 'click' and 'signup') — the
      // categorical-predicate story for split/lang/date columns at
      // 100 TB. Min/max stats skipping still composes on the residual
      // value predicate. Pruning pinned in SnapshotsSpec.
      val p = freshSnapshotPath(dir, "pt")
      Snapshots.append(snapshotEvents(s, dir), p,
        partitionBy = Seq("event_type"))
      Snapshots.scanWhere(s, p,
        col("event_type").isin("click", "signup") && col("value") >= 50.0)
    }),
    "q_snapshot_merge" -> ((s, dir) => {
      // copy-on-write UPSERT: updates double the value for existing keys
      // (event_id%6=0, inside the stored %3∈{0,1} slices) and insert the
      // %3=2 keys as new rows. Only files whose key-range stats overlap
      // the update batch rewrite; the rest carry over unmoved
      // (spec-pinned). Result = full upsert semantics, replayed by the
      // oracle as one CASE projection over events.
      val p = freshSnapshotPath(dir, "mg")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.where(col("event_id") % 3 < 2)
        .repartitionByRange(8, col("event_id")), p)
      val updates = ev
        .where(col("event_id") % 6 === 0 || col("event_id") % 3 === 2)
        .withColumn("value", col("value") * 2)
      Snapshots.merge(s, p, updates, Seq("event_id"))
      Snapshots.read(s, p)
    }),
    "q_snapshot_zskip" -> ((s, dir) => {
      // the composition the tier exists for: OPTIMIZE rewrites the
      // table Z-ORDER clustered on (user_id, value), the commit records
      // per-file stats of the NEW layout, and a selective filter on
      // user_id — NOT the ingest's event_id clustering — data-skips
      // via those stats (pruning pinned in SnapshotsSpec; superset +
      // exact predicate as everywhere)
      val p = freshSnapshotPath(dir, "zs")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.repartitionByRange(6, col("event_id")), p)
      Snapshots.optimize(s, p, numFiles = 6,
        zorderBy = Seq(("user_id", 0.0, 150.0), ("value", 0.0, 500.0)),
        zBits = 8)
      Snapshots.scanWhere(s, p, col("user_id") < 25L)
    }),
    "q_snapshot_update" -> ((s, dir) => {
      // copy-on-write UPDATE: SET value = value*10 where the predicate
      // hits; the event_id bound stats-prunes candidate files, only
      // files containing matches rewrite, non-matching co-located rows
      // pass through bit-identical (spec-pinned carry-over).
      val p = freshSnapshotPath(dir, "up")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.repartitionByRange(8, col("event_id")), p)
      Snapshots.update(s, p,
        col("event_id") < 3000L && col("event_type") === "view",
        Map("value" -> (col("value") * 10)))
      Snapshots.read(s, p)
    }),
    "q_snapshot_sink" -> ((s, dir) => {
      // EXACTLY-ONCE streaming SINK: two real micro-batches land as
      // atomic snapshot commits through foreachBatch(streamAppend),
      // then batch 0 is deliberately REPLAYED (the crash-retry shape) —
      // the manifest's per-app txn high-water mark makes it a no-op.
      // Without the guard the first batch's rows would double and the
      // hash would break.
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val p = freshSnapshotPath(dir, "snk")
      val ev = snapshotEvents(s, dir)
      val rows = ev.as[(Long, Long, String, Double)].collect()
      val (b0, b1) = rows.partition(_._1 % 3 < 2)
      val ms = MemoryStream[(Long, Long, String, Double)]
      val q = ms.toDF().toDF("event_id", "user_id", "event_type", "value")
        .writeStream
        .foreachBatch(Snapshots.streamAppend(p, "gate-sink"))
        .start()
      try {
        ms.addData(b0.toIndexedSeq)
        q.processAllAvailable()
        ms.addData(b1.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      Snapshots.appendIdempotent( // crash-replay of batch 0
        b0.toIndexedSeq.toDF("event_id", "user_id", "event_type", "value"),
        p, "gate-sink", 0L)
      Snapshots.read(s, p)
    }),
    "q_snapshot_source" -> ((s, dir) => {
      // BATCH face of the V2 source: versionAsOf time travel + pushed
      // filters pruning file partitions by manifest stats at planning
      // time (filters stay residual — pruning is a superset; pinned in
      // SnapshotSourceSpec). v1 holds the %3<2 slices range-partitioned
      // on event_id, so the key-band read plans a strict subset of the
      // files even though v2 overwrote the table afterwards.
      val p = buildSrcSnapshotStore(s, dir)
      s.read.format("graft-snapshot").option("versionAsOf", "1").load(p)
        .where(col("event_id") >= 1000L && col("event_id") < 6000L)
    }),
    "q_graph_snapshot" -> ((s, dir) => {
      // the lakehouse tier through the JSON graph surface (the
      // reference's one query language): load_snapshot pins version 1
      // and pushes the key band through scanWhere, so the graph path
      // pays the same stats-pruned planning as the Scala API — process
      // == API equality pinned in GraphCompilerSpec; oracle shared
      // verbatim with q_snapshot_source.
      import graft.compile.GraphCompiler
      val p = buildSrcSnapshotStore(s, dir)
      val graph = s"""{
        "t": {"process_id": "load_snapshot", "arguments": {
          "path": "$p", "version_as_of": 1,
          "where": "event_id >= 1000 AND event_id < 6000"},
          "result": true}}"""
      new GraphCompiler(s, Map.empty)
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_graph_changes" -> ((s, dir) => {
      // incremental log consumption through the graph surface:
      // snapshot_changes(1, 3] == Snapshots.changes — oracle shared
      // verbatim with q_snapshot_changes
      import graft.compile.GraphCompiler
      val p = buildSnapshotStore(s, dir)
      val graph = s"""{
        "c": {"process_id": "snapshot_changes", "arguments": {
          "path": "$p", "from_exclusive": 1, "to_inclusive": 3},
          "result": true}}"""
      new GraphCompiler(s, Map.empty)
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_snapshot_delete" -> ((s, dir) => {
      // copy-on-write DELETE: the predicate's event_id bound prunes the
      // candidate files via manifest stats, one exact pass picks files
      // actually containing matches, and only those rewrite without
      // their matching rows — null-predicate rows are KEPT (SQL
      // semantics, oracled as WHERE NOT(...)).
      val p = freshSnapshotPath(dir, "dl")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.repartitionByRange(8, col("event_id")), p)
      Snapshots.delete(s, p,
        col("event_id") < 2000L && col("event_type") === "click")
      Snapshots.read(s, p)
    }),
    "q_snapshot_dv" -> ((s, dir) => {
      // MERGE-ON-READ delete (deletion vectors — the Delta DV /
      // Iceberg v2 position-delete shape): instead of q_snapshot_delete's
      // copy-on-write rewrite, the matching ROW POSITIONS land as
      // per-file vectors and the commit is metadata-only — write cost
      // O(matched rows), so a GDPR point-delete on a 100 TB table never
      // rewrites terabytes. Reads anti-join the vectors transparently
      // (hash join on (basename, row_index)); a later OPTIMIZE
      // materializes them. No-rewrite + exact cardinalities are
      // spec-pinned (SnapshotDvSpec).
      val p = buildDvSnapshotStore(s, dir)
      Snapshots.read(s, p)
    }),
    "q_snapshot_dv_source" -> ((s, dir) => {
      // the SAME vectored table through the V2 catalog face: the scan
      // plans per-file partitions whose readers load their own vector
      // partition (dv/__gb=<basename>/) and skip positions with a
      // sequential two-pointer walk; metadata COUNT(*) stays exact via
      // the logged per-file cardinalities (spec-pinned). Row-based
      // until OPTIMIZE materializes — the documented DV read tax.
      val p = buildDvSnapshotStore(s, dir)
      s.read.format("graft-snapshot").load(p)
    }),
    "q_snapshot_write" -> ((s, dir) => {
      // the V2 WRITE face: df.write.format("graft-snapshot") routes
      // every batch through the full commit protocol — atomic manifest
      // publish, schema enforcement, CHECK constraints, per-file stats
      // — so catalog-integrated writers get the same guarantees as the
      // Scala API (V1Write fallback, the JDBC-V2 pattern). Two commits
      // (create + append), read back through the V2 batch face.
      val p = freshSnapshotPath(dir, "wr")
      val ev = snapshotEvents(s, dir)
      ev.where(col("event_id") % 2 === 0)
        .write.format("graft-snapshot").mode("append").save(p)
      ev.where(col("event_id") % 2 === 1)
        .write.format("graft-snapshot").mode("append").save(p)
      s.read.format("graft-snapshot").load(p)
    }),
    "q_graph_dv_feed" -> ((s, dir) => {
      // the row-level delete feed through the JSON graph surface —
      // snapshot_deleted_rows(version) == Snapshots.deletedRows; the
      // reference's one query language speaks the whole lakehouse
      // tier. Oracle shared verbatim with q_snapshot_dv_feed.
      import graft.compile.GraphCompiler
      val p = buildDvSnapshotStore(s, dir)
      val graph = s"""{
        "d": {"process_id": "snapshot_deleted_rows", "arguments": {
          "path": "$p", "version": 2}, "result": true}}"""
      new GraphCompiler(s, Map.empty)
        .compile(graph).asInstanceOf[DataFrame]
    }),
    "q_snapshot_replace" -> ((s, dir) => {
      // predicate-scoped OVERWRITE (replaceWhere — the daily backfill
      // idiom): re-run one region of the table atomically. Stats
      // pre-prune the touched files, untouched files carry over, and
      // the batch is contract-checked to live entirely inside the
      // region (a leaking backfill fails typed — spec-pinned).
      val p = freshSnapshotPath(dir, "rw")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.repartitionByRange(8, col("event_id")), p)
      Snapshots.replaceWhere(s, p, col("event_type") === "click",
        ev.where(col("event_type") === "click")
          .withColumn("value", col("value") * 3))
      Snapshots.read(s, p)
    }),
    "q_snapshot_history" -> ((s, dir) => {
      // DESCRIBE HISTORY over the shared vectored store: the
      // operability listing (version, op, adds) a table owner reads
      // before restore/vacuum decisions — one log walk, zero data I/O.
      // Timestamps/counts that depend on wall clock stay unprojected;
      // version/op/n_added are fully deterministic (8-way range
      // clustering + one metadata-only delete-dv commit).
      val p = buildDvSnapshotStore(s, dir)
      Snapshots.history(s, p).select("version", "op", "n_added")
    }),
    "q_snapshot_sql" -> ((s, dir) => {
      // the CATALOG face end-to-end by IDENTIFIER — what a
      // catalog-managed deployment actually runs: register the
      // TableCatalog plugin, CREATE TABLE via DDL (v1, empty, schema
      // recorded), two INSERT INTOs through the full commit protocol,
      // then read back latest ∪ VERSION AS OF 2 in one SQL statement
      // (SQL time travel routes through loadTable(ident, version)).
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"gsnap_$slug"
      // the catalog registration is SESSION state — set it on every
      // call (idempotent), never inside the JVM-memoized build block,
      // or a second session in the same JVM would skip it and fail
      // CATALOG_NOT_FOUND
      val whPath =
        s"${System.getProperty("java.io.tmpdir")}/graft_sqlcat_$slug"
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", whPath)
      sharedBuild("sqlcat", dir) { wh =>
        deleteRecursively(wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"CREATE TABLE $cat.db.events_t (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING, value DOUBLE)")
        snapshotEvents(s, dir).where(col("event_id") % 2 === 0)
          .createOrReplaceTempView(s"ev_even_$slug")
        s.sql(s"INSERT INTO $cat.db.events_t " +
          s"SELECT * FROM ev_even_$slug")
        snapshotEvents(s, dir).where(col("event_id") % 2 === 1)
          .createOrReplaceTempView(s"ev_odd_$slug")
        s.sql(s"INSERT INTO $cat.db.events_t " +
          s"SELECT * FROM ev_odd_$slug")
        // SQL DELETE routes through SupportsDelete into the
        // copy-on-write delete — exact filter translation or refusal
        s.sql(s"DELETE FROM $cat.db.events_t " +
          "WHERE event_type = 'click' AND event_id < 2000")
      }
      s.sql(s"""SELECT event_id, user_id, event_type, value,
                       'v2' AS src
                FROM $cat.db.events_t VERSION AS OF 2
                UNION ALL
                SELECT event_id, user_id, event_type, value,
                       'latest' AS src
                FROM $cat.db.events_t""")
    }),
    "q_snapshot_sql_dml" -> ((s, dir) => {
      // SQL WRITE PARITY by identifier (r11): UPDATE routes through
      // the post-hoc-resolution DML bridge into the CoW update commit,
      // MERGE INTO (canonical upsert) into Snapshots.merge, and ALTER
      // TABLE ADD COLUMN aliases append-evolution (nullable, old rows
      // read null) — a catalog-managed deployment never needs the
      // Scala API for row-level writes. Typed rejections for
      // non-canonical shapes are spec-pinned (SnapshotCatalogSpec).
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"gdml_$slug"
      val whPath =
        s"${System.getProperty("java.io.tmpdir")}/graft_dmlcat_$slug"
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", whPath)
      sharedBuild("dmlcat", dir) { wh =>
        deleteRecursively(wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING, value DOUBLE)")
        snapshotEvents(s, dir).where(col("event_id") % 3 === 0)
          .createOrReplaceTempView(s"dml_base_$slug")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM dml_base_$slug")
        s.sql(s"UPDATE $cat.db.ev SET value = value * 2 " +
          "WHERE event_type = 'click'")
        snapshotEvents(s, dir).where(col("event_id") % 5 === 0)
          .withColumn("value", col("value") + 100)
          .createOrReplaceTempView(s"dml_src_$slug")
        s.sql(s"""MERGE INTO $cat.db.ev t USING dml_src_$slug s
                  ON t.event_id = s.event_id
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
        s.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN tag STRING")
      }
      s.table(s"$cat.db.ev")
    }),
    "q_snapshot_bloom" -> ((s, dir) => {
      // BLOOM-FILTER FILE SKIPPING (r12, the Delta bloom-index shape):
      // the store clusters by event_id, so user_id/event_type min-max
      // spans every file and stats prune NOTHING — the per-file blooms
      // recorded at commit time file-skip the point lookups instead
      // (spec-pinned; here the gate proves zero false negatives
      // end-to-end against the raw-events oracle)
      val p = sharedBuild("snapbloom", dir) { pp =>
        deleteRecursively(pp)
        s.conf.set(Snapshots.BloomColumnsKey, "user_id,event_type")
        try Snapshots.append(snapshotEvents(s, dir)
          .repartitionByRange(8, col("event_id")), pp)
        finally s.conf.unset(Snapshots.BloomColumnsKey)
      }
      Snapshots.scanWhere(s, p, col("user_id") === 77L)
        .unionByName(
          Snapshots.scanWhere(s, p, col("event_type") === "purchase"))
    }),
    "q_bitmap_distinct" -> ((s, dir) => {
      // EXACT mergeable distinct-count sketches (r11, the ClickHouse
      // groupBitmap / roaring bitmap_agg family): per (event_type, day)
      // distinct users via the bitmap aggregate — a
      // TypedImperativeAggregate whose buffer is one compressed bitmap
      // per group (array↔bitmap containers per 2^16 chunk), map-side
      // partial aggregation, canonical bytes. Oracled EXACTLY against
      // COUNT(DISTINCT) — unlike HLL there is no approximation.
      import graft.functions.BitmapExprs._
      readEvents(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(bitmapCount(bitmapAgg(col("user_id"))).as("n_users"))
    }),
    "q_bitmap_rollup" -> ((s, dir) => {
      // the REAGGREGATION law COUNT(DISTINCT) lacks, end-to-end: build
      // the per-day sketch cube once, then answer the per-type distinct
      // from the CUBE (bitmap_union_agg over persisted sketches) — the
      // weekly-active-users query at 100 TB never re-scans raw events.
      // Oracle recomputes from raw, proving cube == raw.
      import graft.functions.BitmapExprs._
      val daily = readEvents(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(bitmapAgg(col("user_id")).as("s"))
      daily.groupBy("event_type")
        .agg(bitmapCount(bitmapUnionAgg(col("s"))).as("n_users"),
          count(lit(1)).as("n_days"))
    }),
    "q_bitmap_retention" -> ((s, dir) => {
      // the RETENTION/CHURN algebra from the sketch cube: day-over-day
      // retained = |prev ∩ cur| (bitmap_and), churned = |prev − cur|
      // (bitmap_andnot) — computed entirely on per-day sketches via one
      // lag window, never re-joining raw events (the self-join the
      // oracle has to do is exactly the 100 TB cost this avoids)
      import graft.functions.BitmapExprs._
      val daily = readEvents(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(bitmapAgg(col("user_id")).as("s"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      daily.withColumn("prev", lag(col("s"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("event_type"), col("day"),
          bitmapCount(bitmapAnd(col("prev"), col("s"))).as("retained"),
          bitmapCount(bitmapAndNot(col("prev"), col("s"))).as("churned"))
    }),
    "q_sql_table_changes" -> ((s, dir) => {
      // the Delta table_changes TVF face (r11): pure-SQL CDC over the
      // same store as q_snapshot_cdf — identical planning, oracle
      // shared verbatim; identifier resolution + typed errors are
      // spec-pinned (SnapshotCdfSpec)
      val p = buildCdfSnapshotStore(s, dir)
      s.sql(s"SELECT * FROM graft_table_changes('$p', 0, 3)")
        .drop("_commit_timestamp")
    }),
    "q_graph_table_changes" -> ((s, dir) => {
      // the TVF face through the JSON graph surface — process == TVF
      // parity: the table_changes process resolves the target and
      // plans the same changeFeed as graft_table_changes; oracle
      // shared verbatim with q_sql_table_changes
      import graft.compile.GraphCompiler
      val p = buildCdfSnapshotStore(s, dir)
      val graph = s"""{
        "ch": {"process_id": "table_changes", "arguments": {
          "target": "$p", "from_version": 0, "to_version": 3},
          "result": true}}"""
      new GraphCompiler(s, Map.empty).compile(graph)
        .asInstanceOf[DataFrame].drop("_commit_timestamp")
    }),
    "q_graph_procedures" -> ((s, dir) => {
      // stored procedures through the JSON graph surface — the
      // call_procedure process compiles to the session's own CALL
      // statement, sharing the whole ProcedureCatalog stack (and this
      // row the q_snapshot_procedures oracle verbatim: same proccat
      // store, history consumed via the graph)
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"gproc_$slug"
      val whPath =
        s"${System.getProperty("java.io.tmpdir")}/graft_proccat_$slug"
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", whPath)
      sharedBuild("proccat", dir) { wh =>
        deleteRecursively(wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING, value DOUBLE)")
        snapshotEvents(s, dir).where(col("event_id") % 3 === 0)
          .createOrReplaceTempView(s"proc_base_$slug")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM proc_base_$slug")
        s.sql(s"DELETE FROM $cat.db.ev WHERE event_type = 'click'")
        s.sql(s"CALL $cat.system.restore(`table` => 'db.ev', " +
          "version => 2)")
        s.sql(s"CALL $cat.system.optimize(`table` => 'db.ev', " +
          "num_files => 2, zorder => 'event_id,user_id')")
      }
      val graph = s"""{
        "hist": {"process_id": "call_procedure", "arguments": {
          "catalog": "$cat", "procedure": "history",
          "args": {"table": "db.ev"}}, "result": true}}"""
      val nCommits = new GraphCompiler(s, Map.empty).compile(graph)
        .asInstanceOf[DataFrame].count()
      s.table(s"$cat.db.ev").withColumn("n_commits", lit(nCommits))
    }),
    "q_snapshot_procedures" -> ((s, dir) => {
      // SQL STORED PROCEDURES (r11, Spark 4 ProcedureCatalog): the
      // whole maintenance lifecycle as CALL statements — restore rolls
      // the SQL DELETE back, optimize rewrites the layout, history
      // pins the exact commit count — so a pure-SQL operator needs no
      // Scala API for maintenance (the reference exposes maintenance
      // only through Python). Typed errors, z-order bounds derivation,
      // vacuum and SHOW PROCEDURES are spec-pinned
      // (SnapshotProceduresSpec).
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"gproc_$slug"
      val whPath =
        s"${System.getProperty("java.io.tmpdir")}/graft_proccat_$slug"
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", whPath)
      sharedBuild("proccat", dir) { wh =>
        deleteRecursively(wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING, value DOUBLE)")
        snapshotEvents(s, dir).where(col("event_id") % 3 === 0)
          .createOrReplaceTempView(s"proc_base_$slug")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM proc_base_$slug")
        s.sql(s"DELETE FROM $cat.db.ev WHERE event_type = 'click'")
        // v4: CALL restore undoes the delete; v5: CALL optimize
        // rewrites the layout content-identically
        s.sql(s"CALL $cat.system.restore(`table` => 'db.ev', " +
          "version => 2)")
        s.sql(s"CALL $cat.system.optimize(`table` => 'db.ev', " +
          "num_files => 2, zorder => 'event_id,user_id')")
      }
      val nCommits = s.sql(
        s"CALL $cat.system.history(`table` => 'db.ev')").count()
      s.table(s"$cat.db.ev").withColumn("n_commits", lit(nCommits))
    }),
    "q_graph_merge_into" -> ((s, dir) => {
      // general MERGE INTO through the JSON graph surface — process ==
      // API parity: the same clause program as q_merge_into, authored
      // as ordered JSON clause lists with SQL expression strings
      // (source columns as `source.<col>`, re-spelled by parsing).
      // Oracle shared verbatim with q_merge_into.
      import graft.compile.GraphCompiler
      val p = sharedBuild("gmigraph", dir) { tp =>
        deleteRecursively(s"${tp}_t") // the stores live at the
        deleteRecursively(s"${tp}_s") // suffixed paths — clean BOTH
        val ev = snapshotEvents(s, dir)
        Snapshots.append(ev.where(col("event_id") % 3 === 0),
          s"${tp}_t")
        Snapshots.append(ev.where(col("event_id") % 4 === 0),
          s"${tp}_s")
        val graph = s"""{
          "src": {"process_id": "load_snapshot", "arguments": {
            "path": "${tp}_s"}},
          "out": {"process_id": "merge_into", "arguments": {
            "path": "${tp}_t", "source": {"from_node": "src"},
            "keys": ["event_id"],
            "matched": [
              {"condition": "source.event_type = 'click'",
               "set": {"value": "value + source.value"}},
              {"condition": "source.event_type = 'view'",
               "delete": true}],
            "not_matched": [
              {"condition": "source.event_id < 5000",
               "values": {"event_id": "source.event_id",
                          "user_id": "source.user_id",
                          "event_type": "'merged'",
                          "value": "source.value"}}],
            "not_matched_by_source": [
              {"condition": "event_type = 'purchase'",
               "set": {"value": "CAST(0.0 AS DOUBLE)"}}]},
            "result": true}}"""
        new GraphCompiler(s, Map.empty).compile(graph)
        ()
      }
      Snapshots.read(s, s"${p}_t")
    }),
    "q_merge_into_evolve" -> ((s, dir) => {
      // MERGE WITH SCHEMA EVOLUTION (r12): the source carries a column
      // the table lacks — Spark computes the widening, routes it
      // through the catalog's append-evolution ADD COLUMN commit and
      // re-resolves, so matched rows update INTO the new column,
      // inserts land with it, and untouched rows read null. Oracle
      // replays the widened end state from raw events.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"gmev_$slug"
      val whPath =
        s"${System.getProperty("java.io.tmpdir")}/graft_gmevcat_$slug"
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", whPath)
      sharedBuild("gmevcat", dir) { wh =>
        deleteRecursively(wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, " +
          "user_id BIGINT, value DOUBLE)")
        snapshotEvents(s, dir).where(col("event_id") % 3 === 0)
          .select("event_id", "user_id", "value")
          .createOrReplaceTempView(s"gmev_base_$slug")
        s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM gmev_base_$slug")
        snapshotEvents(s, dir).where(col("event_id") % 4 === 0)
          .select(col("event_id"), col("user_id"),
            (col("value") + 1000).as("value"),
            col("event_type").as("tag"))
          .createOrReplaceTempView(s"gmev_src_$slug")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.db.ev t
              USING gmev_src_$slug s ON t.event_id = s.event_id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED AND s.event_id < 5000 THEN INSERT *""")
      }
      s.table(s"$cat.db.ev")
    }),
    "q_merge_into" -> ((s, dir) => {
      // GENERAL MERGE INTO (r11) — the full SQL shape the canonical
      // upsert lacks: ordered CONDITIONAL clauses, WHEN MATCHED DELETE,
      // and WHEN NOT MATCHED BY SOURCE, compiled into ONE copy-on-write
      // commit (Delta/Iceberg semantics; clause order = first
      // applicable wins, spec-pinned in SnapshotMergeIntoSpec). Without
      // NMBS only key-touched files rewrite; here NMBS makes every file
      // a candidate — the same cost Delta pays, documented.
      val p = buildMergeIntoStore(s, dir)
      Snapshots.read(s, p)
    }),
    "q_merge_into_cdf" -> ((s, dir) => {
      // the merge commit's row-exact CDC sidecar: update pre/post
      // image pairs for BOTH update families (matched click, NMBS
      // purchase), deletes for the matched-view and nothing else —
      // a downstream aggregate can subtract old and add new without
      // re-reading the table
      val p = buildMergeIntoStore(s, dir)
      Snapshots.changeFeed(s, p, 1L, 2L).drop("_commit_timestamp")
    }),
    "q_snapshot_cdf" -> ((s, dir) => {
      // the COMBINED row-level CHANGE FEED, batch face (Delta's
      // readChangeFeed / table_changes shape): every data-changing
      // commit contributes its added rows as _change_type='insert',
      // the merge-on-read commit its FRESH vector positions joined back
      // to rows as 'delete', each stamped _commit_version — the one
      // feed an incremental index/aggregate consumer needs, adds AND
      // deletes, no table re-sync. Maintenance-skip and streaming ==
      // batch equality are law-pinned (SnapshotCdfSpec).
      val p = buildCdfSnapshotStore(s, dir)
      // _commit_timestamp is wall-clock (real, law-pinned) — dropped
      // here because the oracle compares deterministic values only
      Snapshots.changeFeed(s, p, 0L, 3L).drop("_commit_timestamp")
    }),
    "q_cdf_apply" -> ((s, dir) => {
      // the CDC CONSUMER law end-to-end: a keyed materialization seeded
      // at v1 plus the feed (1, 3] equals the table at v3 — a
      // downstream mirror/index/aggregate pays O(changes) per sync,
      // never an O(table) re-read (newest commit wins per key, deletes
      // remove). Oracle = the table's latest content derived from base
      // events.
      val p = buildCdfSnapshotStore(s, dir)
      Snapshots.applyChangeFeed(
        Snapshots.read(s, p, Some(1L)),
        Snapshots.changeFeed(s, p, 1L, 3L),
        Seq("event_id"))
    }),
    "q_snapshot_cdf_cow" -> ((s, dir) => {
      // ROW-EXACT change feed for COPY-ON-WRITE commits (r11, closing
      // the r10 weak finding): a CoW delete() emits exactly its removed
      // rows as _change_type='delete' from the commit's _change_data
      // sidecar (survivor rows co-located in the rewrite NEVER
      // re-emit), and a partition-aligned replaceWhere emits the
      // dropped partition per-file (fullRemoves synthesis — its bytes
      // were never read at write time) plus the batch as inserts. The
      // every-op state+feed==read(v) law is spec-pinned
      // (SnapshotCdfSpec "THE law").
      val p = buildCowCdfStore(s, dir)
      Snapshots.changeFeed(s, p, 0L, 3L).drop("_commit_timestamp")
    }),
    "q_cdf_images" -> ((s, dir) => {
      // UPDATE PRE/POST IMAGES (r11, the full Delta CDF shape): a
      // mergeChanges batch records matched keys as paired
      // update_preimage/update_postimage rows (old and new values),
      // unmatched keys as inserts, delete keys as deletes with their
      // old row — downstream aggregate maintenance can subtract the
      // pre-values and add the post-values without re-reading the
      // table (law-pinned: sum(post)−sum(pre) == Δsum in
      // SnapshotCdfSpec).
      val p = buildCdfImagesStore(s, dir)
      Snapshots.changeFeed(s, p, 1L, 2L).drop("_commit_timestamp")
    }),
    "q_graph_cdf" -> ((s, dir) => {
      // the CDC consumer through the JSON graph surface (the
      // reference's one query language): load_snapshot pins the v1
      // seed, snapshot_change_feed produces the slice, and
      // apply_change_feed folds it — process == API parity pinned in
      // GraphCompilerSpec; oracle shared verbatim with q_cdf_apply.
      import graft.compile.GraphCompiler
      val p = buildCdfSnapshotStore(s, dir)
      // (1, 2] keeps this parity row CHEAP — the full-range fold with
      // deletes is q_cdf_apply's job, and the CoW feed law has its own
      // rows; GraphCompilerSpec pins process==API over a CoW range
      val graph = s"""{
        "base": {"process_id": "load_snapshot", "arguments": {
          "path": "$p", "version_as_of": 1}},
        "feed": {"process_id": "snapshot_change_feed", "arguments": {
          "path": "$p", "from_exclusive": 1, "to_inclusive": 2}},
        "out": {"process_id": "apply_change_feed", "arguments": {
          "base": {"from_node": "base"}, "feed": {"from_node": "feed"},
          "keys": ["event_id"]}, "result": true}}"""
      new GraphCompiler(s, Map.empty).compile(graph)
        .asInstanceOf[DataFrame]
    }),
    "q_snapshot_dv_feed" -> ((s, dir) => {
      // the ROW-LEVEL DELETE FEED merge-on-read unlocks: deletedRows(v)
      // reads version v's vectors (minus the parent's) and joins the
      // positions back to their rows — downstream index/aggregate
      // maintenance retires exactly these rows without a table re-sync,
      // the delete half of row-level CDC that file-level changes()
      // cannot carry. Shares the dv store; v2 is its delete-dv commit.
      val p = buildDvSnapshotStore(s, dir)
      Snapshots.deletedRows(s, p, 2L)
    }),
    "q_snapshot_compact" -> ((s, dir) => {
      // INCREMENTAL compaction (bin-packing, the counterpart to the
      // whole-table optimize): after small streaming-style commits,
      // only sub-threshold files rewrite into packed bins — maintenance
      // cost tracks the STRAGGLERS, never the table; changes()/the
      // streaming source skip the commit like optimize (spec-pinned).
      val p = freshSnapshotPath(dir, "cp")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.where(col("event_id") % 3 === 0)
        .repartition(1), p)
      Snapshots.append(ev.where(col("event_id") % 3 === 1)
        .repartition(4), p)
      Snapshots.compactSmallFiles(s, p, smallBytes = 1L << 30)
      Snapshots.read(s, p)
    }),
    "q_snapshot_restore" -> ((s, dir) => {
      // RESTORE to an earlier version as a NEW commit, METADATA-ONLY:
      // the target's file listing + stats + vectors re-reference inline
      // (self-checkpointing manifest), no data moves — rolling a 100 TB
      // table back from a bad load costs one log write. History stays
      // readable and idempotent-txn marks carry forward (spec-pinned).
      val p = freshSnapshotPath(dir, "rs")
      val ev = snapshotEvents(s, dir)
      Snapshots.append(ev.where(col("event_id") % 3 === 0), p) // v1
      Snapshots.overwrite(ev.where(col("event_id") % 3 === 2), p) // v2
      Snapshots.restore(s, p, 1L) // v3: roll the overwrite back
      Snapshots.read(s, p)
    }),
    "q_timetravel_ts" -> ((s, dir) => {
      // time travel by WALL CLOCK (timestampAsOf): manifests carry
      // in-commit timestamps forced strictly monotonic across writer
      // clock skew, so "the table as of 14:00" is a well-defined log
      // lookup — reads version 2 of the shared store, same rows as
      // q_timetravel's version pin (oracle shared verbatim).
      val p = buildSnapshotStore(s, dir)
      Snapshots.readAsOfTimestamp(s, p,
        Snapshots.manifestAt(s, p, 2L).get.ts)
    }),
    "q_json_extract" -> ((s, dir) => {
      // the raw-ingest shape (Kafka-style JSON payloads): each event
      // encodes to a JSON string, then from_json with an explicit
      // schema re-types the fields — a pure projection chain (no UDF,
      // stays in codegen). Doubles survive exactly: Jackson writes
      // shortest-roundtrip decimals and the parser restores the bit
      // pattern, so the oracle is the original projection.
      val ev = readEvents(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
      val payloads = ev.select(
        to_json(struct(ev.columns.map(col).toIndexedSeq: _*)).as("payload"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, user_id LONG, event_type STRING, " +
          "ts_us LONG, value DOUBLE")
      payloads.select(from_json(col("payload"), schema).as("r"))
        .select("r.*")
    }),
    "q_orc_source" -> ((s, dir) => {
      // source-format breadth: events round-trip through ORC (columnar,
      // type-preserving — timestamps survive natively, unlike CSV) and
      // full-row-join against the parquet read, so any divergence drops
      // rows and the oracle's count catches it
      val ev = readEvents(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_orc_$slug"
      ev.write.mode("overwrite").orc(s"$tmp/orc")
      s.read.orc(s"$tmp/orc").join(ev,
        Seq("event_id", "user_id", "event_type", "ts_us", "value"))
    }),
    "q_sample_weighted_k" -> ((s, dir) => {
      // exact-50 weighted draw without replacement over documents,
      // weight ∝ byte length (1e-6-quantized) — the Efraimidis-Spirakis
      // key is a pure projection, the draw a TakeOrderedAndProject
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("wt",
          round(octet_length(encode(col("text"), "UTF-8")).cast("double")
            / 1000.0, 6) + 0.001)
      graft.text.Sampling.sampleWeightedK(d, "doc_id", col("wt"), 50)
        .select(col("doc_id"), col("wt"))
    }),
    "q_pivot" -> ((s, dir) => {
      // relational pivot surface: per-user event-type contingency table
      // (explicit value list → no extra distinct pass; map-side partial
      // counts). na.fill(0) so absent cells are 0 like the conditional-
      // count oracle
      readEvents(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),
    "q_resample_ffill" -> ((s, dir) => {
      // regular-grid resampling with forward fill: each user's sparse
      // purchase series lands on a daily grid via a backward as-of join
      // (grid side = explode(sequence) per user — no driver loop).
      // Composes sequence/explode with the union-window asof.
      val ev = readEvents(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          col("value").as("last_purchase"))
      val grid = purchases.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("pts"))).as("d0"),
          date_trunc("day", max(col("pts"))).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, INTERVAL 1 DAY)")).as("grid_ts"))
      graft.ops.TableJoins.asofJoin(grid, purchases, Seq("user_id"),
          "grid_ts", "pts", Seq("last_purchase"))
        .select("user_id", "grid_ts", "last_purchase")
    }),
    "q_table_profile" -> ((s, dir) => {
      // per-column dataset profile of events (ts excluded: engines
      // disagree on timestamp→string trailing-zero trimming, and the
      // whole column profiles through its string form). Two passes:
      // one hash agg for exact null/min/max, one stacked HLL pass for
      // distinct estimates.
      graft.ops.TableProfile.profile(readEvents(s, dir),
        Seq("event_id", "user_id", "event_type", "value"))
    }),
    "q_attribution_pipeline" -> ((s, dir) => {
      // round-6 composition DAG: as-of click attribution over views →
      // per-user attributed-view rollup → joined with the ordered
      // funnel — one oracle SQL replays the whole trajectory. Shapes:
      // the asof is the one-exchange union-window; the funnel reuses
      // one key partitioning; the final join is key-aligned.
      val ev = readEvents(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("value").as("click_value"))
      val attributed = graft.ops.TableJoins.asofJoin(views, clicks,
        Seq("user_id"), "ts", "cts", Seq("click_value"))
      val perUser = attributed.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_views"),
        count(col("click_value")).as("n_attributed"),
        dsum(coalesce(col("click_value"), lit(0.0)))
          .as("sum_attributed_value"))
      val fun = graft.ops.Funnel.funnel(ev, "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"))
      fun.join(perUser, Seq("user_id"), "left")
        .select(col("user_id"), col("converted"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          coalesce(col("n_attributed"), lit(0L)).as("n_attributed"),
          coalesce(col("sum_attributed_value"), lit(0.0))
            .as("sum_attributed_value"))
    }),
    "q_asof_native" -> ((s, dir) => {
      // the SAME point-in-time attribution as q_asof_join, through the
      // custom LogicalPlan → Strategy → AsofJoinExec physical merge
      // (one O(1)-state pass, no window machinery) — oracle shared
      // verbatim; TableJoinsSpec pins plan + law-equality to asofJoin
      val ev = readEvents(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.ops.TableJoins.asofJoinNative(views, clicks, Seq("user_id"),
          "ts", "cts", Seq("click_ts", "click_value"))
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    }),
    "q_band_join_rule" -> ((s, dir) => {
      // the SAME busy-hours containment as q_range_join, but written as
      // the raw DECLARATIVE inequality join a SQL user would type — the
      // injected BandJoinRule optimizer rule rewrites it to the binned
      // equi-join (BandJoinRuleSpec pins the plan); oracle shared
      // verbatim with q_range_join
      val ev = readEvents(s, dir)
      val busy = ev.where(col("event_type").isin("click", "view"))
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("n_events"))
        .where(col("n_events") >= 8)
        .withColumn("window_end",
          col("window_start") + expr("INTERVAL 1 HOUR")
            - expr("INTERVAL 1 MICROSECOND"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      errors.join(busy,
          col("ts") >= col("window_start") && col("ts") <= col("window_end"))
        .select("event_id", "user_id", "ts", "window_start", "n_events")
    }),
    "q_graph_asof" -> ((s, dir) => {
      // the as-of join driven through the openEO JSON graph surface:
      // load_table x2 + asof_join compile to the IDENTICAL plan as
      // q_asof_join's Scala call; the oracle is shared verbatim. The
      // two sides are staged through readEvents first so the graph path
      // inherits the ts-encoding dispatch (driver-owned fixture quirk)
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_asof_$slug"
      val ev = readEvents(s, dir)
      ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
        .write.mode("overwrite").parquet(s"$tmp/views")
      ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("ts").as("click_ts"), col("value").as("click_value"))
        .write.mode("overwrite").parquet(s"$tmp/clicks")
      val graph = """{
        "v": {"process_id": "load_table", "arguments": {"id": "views"}},
        "c": {"process_id": "load_table", "arguments": {"id": "clicks"}},
        "j": {"process_id": "asof_join", "arguments": {
          "left": {"from_node": "v"}, "right": {"from_node": "c"},
          "keys": ["user_id"], "left_ts": "ts", "right_ts": "cts",
          "payload": ["click_ts", "click_value"]}, "result": true}}"""
      new GraphCompiler(s, Map.empty, tmp + "_res",
          tables = Map("views" -> s"$tmp/views", "clicks" -> s"$tmp/clicks"))
        .compile(graph).asInstanceOf[DataFrame]
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    }),
    "q_salted_join" -> ((s, dir) => {
      // skew-safe join: purchase events against a per-user signup
      // profile with salt factor 4 — row-identical to the plain join
      // (the oracle IS the plain join), but a hot user's rows spread
      // over 4 tasks instead of one straggler
      val ev = readEvents(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val profile = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_signups"), min(col("ts")).as("first_signup"))
      graft.ops.TableJoins.saltedJoin(purchases, profile,
          Seq("user_id"), saltFactor = 4)
        .select("event_id", "user_id", "value", "n_signups", "first_signup")
    }),
    "q_funnel" -> ((s, dir) => {
      // ordered-funnel conversion (signup → click → purchase per user):
      // greedy first-match stage times, null-propagating once a stage
      // is unreached; one reused key partitioning across stages
      graft.ops.Funnel.funnel(readEvents(s, dir), "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"))
    }),
    "q_compaction_plan" -> ((s, dir) => {
      // output-file compaction planning over a file listing (documents
      // stand in: doc_id=path, text bytes=size) — deterministic
      // first-fit-decreasing-flavored bin assignment, pure integer math
      val files = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("bytes"))
      graft.ops.Compaction.compactionPlan(files, "doc_id", "bytes", 4096L)
    }),
    "q_compaction_exec" -> ((s, dir) => {
      // compaction EXECUTED end-to-end: a deliberately fragmented copy
      // (32 tiny files) compacts into planned bins — one distributed
      // job, exactly one output file per bin (law-pinned in spec) —
      // and the surviving data is the oracle (byte-identical rows)
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val frag = s"${System.getProperty("java.io.tmpdir")}/graft_cmp_$slug"
      l.repartition(32).write.mode("overwrite").parquet(frag)
      graft.ops.Compaction.compactDirectory(s, frag, targetBytes = 1L << 20)
      s.read.parquet(frag)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    }),
    "q_hll_join" -> ((s, dir) => {
      // join-cardinality planning without running the join: HLL key
      // sketches of view-users vs purchase-users, overlap by register
      // merge + inclusion-exclusion — KB of state at any corpus size
      val ev = readEvents(s, dir)
      graft.text.Sketches.hllKeyOverlap(
        ev.where(col("event_type") === "view"), col("user_id"),
        ev.where(col("event_type") === "purchase"), col("user_id"))
    }),
    "q_zorder" -> ((s, dir) => {
      // Morton keys for multi-dim data skipping: (user_id, value)
      // quantized to 10 bits each and bit-interleaved by the native
      // codegen ZValue expression. The key itself is the oracle-checked
      // output; clusterByZ (range-partition + sort by it) is the layout
      // side, pinned in TableJoinsSpec's span test
      import graft.functions.ZOrder
      readEvents(s, dir).select(
        col("event_id"),
        ZOrder.zvalue(10,
          ZOrder.quantize(col("user_id"), 0.0, 256.0, 10),
          ZOrder.quantize(col("value"), 0.0, 512.0, 10)).as("zval"))
    }),
  )

  def sql: Map[String, String] = Map(
    // --- temporal table joins + storage layout (round 6) -----------------
    // as-of oracle = the SAME union-sort-window formulation in ANSI SQL:
    // right side deduped to (key, ts, max(value)) first (the struct-max
    // tie rule), side 0/1 ordering encodes inclusive-vs-strict at equal
    // timestamps
    "q_asof_join" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, max(value) AS cv FROM events
               WHERE event_type = 'click' GROUP BY 1, 2),
         u AS (
           SELECT user_id, ts, 1 AS side, event_id,
                  NULL::TIMESTAMP AS cts, NULL::DOUBLE AS cv FROM v
           UNION ALL
           SELECT user_id, cts AS ts, 0 AS side, NULL::BIGINT AS event_id,
                  cts, cv FROM c),
         s AS (SELECT *,
             last_value(cts IGNORE NULLS) OVER w AS click_ts,
             last_value(cv IGNORE NULLS) OVER w AS click_value
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts, click_ts, click_value
         FROM s WHERE side = 1""",
    "q_running_total" ->
      // DuckDB's ORDER BY default frame is the same RANGE frame, so
      // same-ts ties aggregate together identically
      """SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY ts) AS DOUBLE)
             AS running_total
         FROM events WHERE event_type = 'purchase'""",
    "q_skew_report" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
            FROM events GROUP BY 1),
         t AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS tot FROM c),
         r AS (SELECT user_id, n_rows,
             round(CAST(n_rows AS DOUBLE) / (SELECT tot FROM t), 6) AS share,
             CAST(row_number() OVER (ORDER BY n_rows DESC, user_id)
               AS INTEGER) AS rank,
             round(CAST(SUM(n_rows) OVER (ORDER BY n_rows DESC, user_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / (SELECT tot FROM t), 6) AS cum_share
           FROM c)
         SELECT * FROM r WHERE rank <= 20""",
    "q_agg_incremental" ->
      // monoid law: the shard fold equals the one-shot aggregate
      """SELECT user_id, event_type, CAST(count(value) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(count(value) AS DOUBLE) AS mean_value
         FROM events GROUP BY 1, 2""",
    "q_spatial_join" -> {
      val polyUnions = spatialJoinPolys.map { case (pid, ring) =>
        s"""SELECT event_id, px, py, $pid AS poly_id FROM p
            WHERE ${rayCastSql("px", "py", ring)}"""
      }.mkString("\n UNION ALL \n")
      s"""WITH p AS (SELECT event_id, value % 20.0 AS px,
              (value * 7.0) % 20.0 AS py FROM events)
          $polyUnions"""
    },
    "q_merge_changelog" -> mergeChangelogSql,
    "q_scd2_intervals" ->
      """WITH ch AS (SELECT user_id, ts, max(value) AS value FROM events
              WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT user_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
           value,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             AS is_current
         FROM ch""",
    "q_csv_source" ->
      // both format round-trips must reproduce this projection exactly
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                value
         FROM events""",
    "q_schema_evolution" ->
      // old-generation rows carry NULL for the late-added column
      """SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
                  AS o_orderpriority
         FROM orders""",
    "q_timetravel" ->
      // version 2 = the two appends, untouched by the later overwrite
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 IN (0, 1)""",
    "q_snapshot_changes" ->
      // adds of versions 2..3 = the second append + the overwrite's rows
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 IN (1, 2)""",
    "q_snapshot_optimize" ->
      // optimize rewrites layout only: rows = the post-overwrite snapshot
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 = 2""",
    "q_snapshot_skip" ->
      // file pruning is a conservative superset + exact predicate, so
      // the result is just the filter
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id >= 2000 AND event_id < 5000""",
    "q_snapshot_count" ->
      // metadata count == the rows the post-overwrite snapshot holds
      """SELECT CAST(count(*) AS BIGINT) AS n_rows
         FROM events WHERE event_id % 3 = 2""",
    "q_snapshot_partitioned" ->
      // partition pruning is exact set membership + residual predicate,
      // so the result is just the filter
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_type IN ('click', 'signup') AND value >= 50.0""",
    "q_snapshot_merge" ->
      // upsert replay: stored keys are %3 in (0,1); updates double value
      // for %6=0 (existing) and insert %3=2 (new) — together all events,
      // with value doubled exactly on the update keys
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_id % 6 = 0 OR event_id % 3 = 2
                     THEN value * 2 ELSE value END AS value
         FROM events""",
    "q_snapshot_zskip" ->
      // layout never changes contents: the z-ordered scan is the filter
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE user_id < 25""",
    "q_snapshot_update" ->
      // update replay: SET hits only predicate-true rows
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_id < 3000 AND event_type = 'view'
                     THEN value * 10 ELSE value END AS value
         FROM events""",
    "q_snapshot_sink" ->
      // two batches exactly once, the replayed batch contributes nothing
      """SELECT event_id, user_id, event_type, value FROM events""",
    "q_snapshot_source" ->
      // v1 = the %3<2 slices; the pushed range stays residual-exact
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id % 3 < 2 AND event_id >= 1000 AND event_id < 6000""",
    "q_graph_snapshot" ->
      // q_snapshot_source's oracle verbatim: the graph surface must
      // reproduce the API read exactly
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id % 3 < 2 AND event_id >= 1000 AND event_id < 6000""",
    "q_graph_changes" ->
      // q_snapshot_changes' oracle verbatim
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 IN (1, 2)""",
    "q_snapshot_delete" ->
      // delete removes predicate-true rows; everything else survives
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE NOT (event_id < 2000 AND event_type = 'click')""",
    "q_snapshot_dv" ->
      // merge-on-read ≡ copy-on-write for readers: vectors hide exactly
      // the predicate-true rows
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE NOT (event_id < 3000 AND event_type = 'view')""",
    "q_snapshot_dv_source" ->
      // the V2 face of the same vectored table — same oracle verbatim
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE NOT (event_id < 3000 AND event_type = 'view')""",
    "q_snapshot_write" ->
      // two V2-written commits = the whole events table
      """SELECT event_id, user_id, event_type, value FROM events""",
    "q_graph_dv_feed" ->
      // q_snapshot_dv_feed's oracle verbatim (process == API)
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id < 3000 AND event_type = 'view'""",
    "q_snapshot_replace" ->
      // backfill replay: click rows tripled, everything else untouched
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_type = 'click' THEN value * 3
                     ELSE value END AS value
         FROM events""",
    "q_snapshot_history" ->
      // the dv store's log: v1 = 8-file range-clustered append, v2 =
      // metadata-only merge-on-read delete (no files added)
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'append', CAST(8 AS BIGINT)),
           (CAST(2 AS BIGINT), 'delete-dv', CAST(0 AS BIGINT)))
         AS t(version, op, n_added)""",
    "q_snapshot_dv_feed" ->
      // the delete feed carries exactly the vectored-away rows
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id < 3000 AND event_type = 'view'""",
    "q_snapshot_sql" ->
      // v2 = the even INSERT only; latest = both inserts minus the
      // SQL-DELETEd slice
      """SELECT event_id, user_id, event_type, value, 'v2' AS src
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, user_id, event_type, value, 'latest' AS src
         FROM events
         WHERE NOT (event_type = 'click' AND event_id < 2000)""",
    "q_snapshot_sql_dml" ->
      // base = %3=0 slice; UPDATE doubled click values; MERGE upserted
      // the %5=0 slice at value+100 (matched keys replaced, unmatched
      // inserted); ADD COLUMN tag reads null everywhere
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_type = 'click' THEN value * 2
                     ELSE value END AS value,
                CAST(NULL AS VARCHAR) AS tag
         FROM events WHERE event_id % 3 = 0 AND event_id % 5 <> 0
         UNION ALL
         SELECT event_id, user_id, event_type, value + 100,
                CAST(NULL AS VARCHAR)
         FROM events WHERE event_id % 5 = 0""",
    "q_bitmap_distinct" ->
      // bitmap sketch counts are exact
      """SELECT event_type, date_trunc('day', ts) AS day,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1, 2""",
    "q_bitmap_rollup" ->
      // the sketch-cube rollup equals the raw recompute
      """SELECT event_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)
                  AS n_days
         FROM events GROUP BY 1""",
    "q_bitmap_retention" ->
      // the sketch-algebra counts equal the raw self-join replay
      """WITH d AS (SELECT DISTINCT event_type,
                           date_trunc('day', ts) AS day, user_id
                    FROM events),
              seq AS (SELECT event_type, day,
                             lag(day) OVER (PARTITION BY event_type
                                            ORDER BY day) AS prev_day
                      FROM (SELECT DISTINCT event_type, day FROM d)),
              ret AS (SELECT s.event_type, s.day,
                             COUNT(DISTINCT b.user_id) AS retained
                      FROM seq s
                      JOIN d a ON a.event_type = s.event_type
                              AND a.day = s.prev_day
                      JOIN d b ON b.event_type = s.event_type
                              AND b.day = s.day
                              AND b.user_id = a.user_id
                      GROUP BY 1, 2),
              prevn AS (SELECT s.event_type, s.day,
                               COUNT(DISTINCT a.user_id) AS prev_users
                        FROM seq s
                        JOIN d a ON a.event_type = s.event_type
                                AND a.day = s.prev_day
                        GROUP BY 1, 2)
         SELECT p.event_type, p.day,
                CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained,
                CAST(p.prev_users - COALESCE(r.retained, 0) AS BIGINT)
                  AS churned
         FROM prevn p
         LEFT JOIN ret r
           ON r.event_type = p.event_type AND r.day = p.day""",
    "q_sql_table_changes" ->
      // q_snapshot_cdf's oracle verbatim (same store, same feed range,
      // consumed through the SQL TVF face)
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
    "q_snapshot_bloom" ->
      // the two bloom-served point lookups, replayed from raw events
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE user_id = 77
         UNION ALL
         SELECT event_id, user_id, event_type, value
         FROM events WHERE event_type = 'purchase'""",
    "q_graph_table_changes" ->
      // q_sql_table_changes' oracle verbatim (same store, same range,
      // consumed through the graph-surface table_changes process)
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
    "q_graph_procedures" ->
      // q_snapshot_procedures' oracle verbatim (same proccat store,
      // history consumed through the graph-surface call_procedure)
      """SELECT event_id, user_id, event_type, value,
                CAST(5 AS BIGINT) AS n_commits
         FROM events WHERE event_id % 3 = 0""",
    "q_snapshot_procedures" ->
      // CALL restore undid the SQL DELETE, CALL optimize preserved
      // content; history pins the commit count (create, insert,
      // delete, restore, optimize)
      """SELECT event_id, user_id, event_type, value,
                CAST(5 AS BIGINT) AS n_commits
         FROM events WHERE event_id % 3 = 0""",
    "q_graph_merge_into" ->
      // q_merge_into's oracle verbatim (same clause program, authored
      // through the graph surface)
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_id % 12 = 0 AND event_type = 'click'
                       THEN value * 2
                     WHEN event_id % 12 <> 0 AND event_type = 'purchase'
                       THEN 0.0
                     ELSE value END AS value
         FROM events
         WHERE event_id % 3 = 0
           AND NOT (event_id % 12 = 0 AND event_type = 'view')
         UNION ALL
         SELECT event_id, user_id, 'merged', value
         FROM events
         WHERE event_id % 4 = 0 AND event_id % 3 <> 0
           AND event_id < 5000""",
    "q_merge_into_evolve" ->
      // the widened end state: base = %3=0 over 3 columns; matched
      // (%12=0) rows take the source's value+1000 and its event_type
      // as the NEW `tag` column; unmatched-source rows (%4=0, %3<>0,
      // <5000) insert with it; untouched rows read tag null
      """SELECT event_id, user_id,
                CASE WHEN event_id % 12 = 0 THEN value + 1000
                     ELSE value END AS value,
                CASE WHEN event_id % 12 = 0 THEN event_type END AS tag
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT event_id, user_id, value + 1000, event_type
         FROM events
         WHERE event_id % 4 = 0 AND event_id % 3 <> 0
           AND event_id < 5000""",
    "q_merge_into" ->
      // base = %3=0; matched (%12=0) clicks add s.value (= doubling,
      // same row), matched views delete, other matched types carry;
      // target-only (%12<>0) purchases zero out (NMBS update); source
      // rows unmatched by the target (%4=0, %3<>0) below 5000 insert
      // as 'merged'
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_id % 12 = 0 AND event_type = 'click'
                       THEN value * 2
                     WHEN event_id % 12 <> 0 AND event_type = 'purchase'
                       THEN 0.0
                     ELSE value END AS value
         FROM events
         WHERE event_id % 3 = 0
           AND NOT (event_id % 12 = 0 AND event_type = 'view')
         UNION ALL
         SELECT event_id, user_id, 'merged', value
         FROM events
         WHERE event_id % 4 = 0 AND event_id % 3 <> 0
           AND event_id < 5000""",
    "q_merge_into_cdf" ->
      // the merge commit's exact CDC: pre/post pairs for both update
      // families, deletes for matched views, inserts for the unmatched
      // source slice
      """SELECT event_id, user_id, event_type, value,
                'update_preimage' AS _change_type,
                CAST(2 AS BIGINT) AS _commit_version
         FROM events WHERE event_id % 12 = 0 AND event_type = 'click'
         UNION ALL
         SELECT event_id, user_id, event_type, value * 2,
                'update_postimage', CAST(2 AS BIGINT)
         FROM events WHERE event_id % 12 = 0 AND event_type = 'click'
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'update_preimage', CAST(2 AS BIGINT)
         FROM events
         WHERE event_id % 3 = 0 AND event_id % 12 <> 0
           AND event_type = 'purchase'
         UNION ALL
         SELECT event_id, user_id, event_type, 0.0,
                'update_postimage', CAST(2 AS BIGINT)
         FROM events
         WHERE event_id % 3 = 0 AND event_id % 12 <> 0
           AND event_type = 'purchase'
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'delete', CAST(2 AS BIGINT)
         FROM events WHERE event_id % 12 = 0 AND event_type = 'view'
         UNION ALL
         SELECT event_id, user_id, 'merged', value,
                'insert', CAST(2 AS BIGINT)
         FROM events
         WHERE event_id % 4 = 0 AND event_id % 3 <> 0
           AND event_id < 5000""",
    "q_snapshot_cdf" ->
      // inserts = the two appended slices (stamped with their commit),
      // deletes = the dv'd rows among them, optimize contributes nothing
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
    "q_cdf_apply" ->
      // seeded state + applied feed == the table's latest content
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id % 3 IN (0, 1)
           AND NOT (event_id < 3000 AND event_type = 'view')""",
    "q_snapshot_cdf_cow" ->
      // v1 partitioned inserts; v2 CoW delete's removed rows ONLY;
      // v3 replaceWhere = dropped-partition rows as deletes (the
      // fullRemoves synthesis) + the replacement batch as inserts
      """SELECT event_id, user_id, event_type, value,
                'insert' AS _change_type,
                CAST(1 AS BIGINT) AS _commit_version
         FROM events WHERE event_id % 3 < 2
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'delete', CAST(2 AS BIGINT)
         FROM events
         WHERE event_id % 3 < 2 AND event_type = 'click'
           AND event_id < 2000
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'delete', CAST(3 AS BIGINT)
         FROM events
         WHERE event_id % 3 < 2 AND event_type = 'purchase'
         UNION ALL
         SELECT event_id, user_id, event_type, value + 0.5,
                'insert', CAST(3 AS BIGINT)
         FROM events WHERE event_type = 'purchase'""",
    "q_cdf_images" ->
      // one mergeChanges commit: matched keys emit BOTH images,
      // unmatched inserts, delete keys their old row
      """SELECT event_id, user_id, event_type, value,
                'update_preimage' AS _change_type,
                CAST(2 AS BIGINT) AS _commit_version
         FROM events WHERE event_id % 3 = 0 AND event_id % 10 < 2
         UNION ALL
         SELECT event_id, user_id, event_type, value * 2,
                'update_postimage', CAST(2 AS BIGINT)
         FROM events WHERE event_id % 3 = 0 AND event_id % 10 < 2
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'insert', CAST(2 AS BIGINT)
         FROM events WHERE event_id % 3 = 2 AND event_id % 10 < 2
         UNION ALL
         SELECT event_id, user_id, event_type, value,
                'delete', CAST(2 AS BIGINT)
         FROM events
         WHERE event_id % 3 = 0 AND event_id % 10 = 5
           AND event_type = 'click'""",
    "q_graph_cdf" ->
      // state(v1) + feed(1,2] == read(v2) = both appended slices
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id % 3 IN (0, 1)""",
    "q_snapshot_compact" ->
      // compaction rewrites layout only: rows = the two appends
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 IN (0, 1)""",
    "q_snapshot_restore" ->
      // restore to v1 rolls the overwrite back: the %3=0 slice again
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 = 0""",
    "q_timetravel_ts" ->
      // as-of the v2 commit's timestamp = version 2 = the two appends
      // (q_timetravel's oracle verbatim)
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 3 IN (0, 1)""",
    "q_json_extract" ->
      // encode→parse→extract is lossless; oracle = the projection
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                value
         FROM events""",
    "q_orc_source" ->
      // the ORC round-trip must reproduce the same projection exactly
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                value
         FROM events""",
    "q_sample_weighted_k" ->
      // same LCG hash → u ∈ (0,1) → ln(u)/w key, top-50 with id
      // tie-break
      """WITH w AS (SELECT doc_id,
              round(CAST(octet_length(encode(text)) AS DOUBLE) / 1000.0, 6)
                + 0.001 AS wt
            FROM documents),
         k AS (SELECT doc_id, wt,
              ln(CAST((((doc_id % 2147483648) * 1103515245 + 12345)
                   % 2147483648) + 1 AS DOUBLE) / 2147483649.0) / wt AS key
            FROM w)
         SELECT doc_id, wt FROM k ORDER BY key DESC, doc_id LIMIT 50""",
    "q_pivot" ->
      """SELECT user_id,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM events GROUP BY 1""",
    "q_resample_ffill" ->
      // per-user daily grid via generate_series, then the union-window
      // asof replay (right deduped per (user, ts) to max value)
      """WITH p AS (SELECT user_id, ts AS pts, max(value) AS pv FROM events
              WHERE event_type = 'purchase' GROUP BY 1, 2),
         span AS (SELECT user_id, date_trunc('day', min(pts)) AS d0,
              date_trunc('day', max(pts)) AS d1
            FROM p GROUP BY 1),
         grid AS (SELECT s.user_id, g.gts AS grid_ts
            FROM span s, LATERAL (SELECT unnest(generate_series(
              s.d0, s.d1, INTERVAL 1 DAY)) AS gts) g),
         u AS (
           SELECT user_id, grid_ts AS ts, 1 AS side, grid_ts,
                  NULL::DOUBLE AS pv FROM grid
           UNION ALL
           SELECT user_id, pts AS ts, 0 AS side, NULL::TIMESTAMP AS grid_ts,
                  pv FROM p),
         sc AS (SELECT *,
             last_value(pv IGNORE NULLS) OVER w AS last_purchase
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, grid_ts, last_purchase FROM sc WHERE side = 1""",
    "q_table_profile" -> s"""
         WITH src AS (
           SELECT 'event_id' AS side, CAST(event_id AS VARCHAR) AS g
             FROM events
           UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
           UNION ALL SELECT 'event_type', event_type FROM events
           UNION ALL SELECT 'value', CAST(value AS VARCHAR) FROM events),
         tok AS (SELECT side, g FROM src WHERE g IS NOT NULL),
         $hllEstChainSql,
         ex AS (
           SELECT 'event_id' AS "column",
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(event_id) AS BIGINT) AS n_values,
             CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
             CAST(min(event_id) AS VARCHAR) AS "min",
             CAST(max(event_id) AS VARCHAR) AS "max" FROM events
           UNION ALL SELECT 'user_id', CAST(count(*) AS BIGINT),
             CAST(count(user_id) AS BIGINT),
             CAST(count(*) - count(user_id) AS BIGINT),
             CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
             FROM events
           UNION ALL SELECT 'event_type', CAST(count(*) AS BIGINT),
             CAST(count(event_type) AS BIGINT),
             CAST(count(*) - count(event_type) AS BIGINT),
             min(event_type), max(event_type) FROM events
           UNION ALL SELECT 'value', CAST(count(*) AS BIGINT),
             CAST(count(value) AS BIGINT),
             CAST(count(*) - count(value) AS BIGINT),
             CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
             FROM events)
         SELECT ex."column", ex.n_rows, ex.n_values, ex.n_nulls,
                ex."min", ex."max",
                coalesce(est.est_distinct, 0.0) AS est_distinct
         FROM ex LEFT JOIN est ON est.side = ex."column"""",
    "q_attribution_pipeline" ->
      // full-trajectory replay: union-window as-of attribution →
      // per-user rollup (decimal sum) → ordered funnel → left join
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, max(value) AS cv FROM events
               WHERE event_type = 'click' GROUP BY 1, 2),
         u AS (
           SELECT user_id, ts, 1 AS side, event_id,
                  NULL::TIMESTAMP AS cts, NULL::DOUBLE AS cv FROM v
           UNION ALL
           SELECT user_id, cts AS ts, 0 AS side, NULL::BIGINT AS event_id,
                  cts, cv FROM c),
         s AS (SELECT *,
             last_value(cv IGNORE NULLS) OVER w AS click_value
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         att AS (SELECT user_id, click_value FROM s WHERE side = 1),
         pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_views,
              CAST(count(click_value) AS BIGINT) AS n_attributed,
              CAST(SUM(CAST(coalesce(click_value, 0.0) AS DECIMAL(18,2)))
                AS DOUBLE) AS sum_attributed_value
            FROM att GROUP BY 1),
         s0 AS (SELECT user_id, min(ts) AS signup_ts FROM events
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
         SELECT f.user_id, f.purchase_ts IS NOT NULL AS converted,
           coalesce(pu.n_views, 0) AS n_views,
           coalesce(pu.n_attributed, 0) AS n_attributed,
           coalesce(pu.sum_attributed_value, 0.0) AS sum_attributed_value
         FROM s2 f LEFT JOIN pu USING (user_id)""",
    "q_asof_native" ->
      // shared verbatim with q_asof_join: the custom physical operator
      // is semantics-identical by the TableJoinsSpec law
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, max(value) AS cv FROM events
               WHERE event_type = 'click' GROUP BY 1, 2),
         u AS (
           SELECT user_id, ts, 1 AS side, event_id,
                  NULL::TIMESTAMP AS cts, NULL::DOUBLE AS cv FROM v
           UNION ALL
           SELECT user_id, cts AS ts, 0 AS side, NULL::BIGINT AS event_id,
                  cts, cv FROM c),
         s AS (SELECT *,
             last_value(cts IGNORE NULLS) OVER w AS click_ts,
             last_value(cv IGNORE NULLS) OVER w AS click_value
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts, click_ts, click_value
         FROM s WHERE side = 1""",
    "q_graph_asof" ->
      // shared verbatim with q_asof_join: the JSON graph compiles to the
      // identical plan
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, max(value) AS cv FROM events
               WHERE event_type = 'click' GROUP BY 1, 2),
         u AS (
           SELECT user_id, ts, 1 AS side, event_id,
                  NULL::TIMESTAMP AS cts, NULL::DOUBLE AS cv FROM v
           UNION ALL
           SELECT user_id, cts AS ts, 0 AS side, NULL::BIGINT AS event_id,
                  cts, cv FROM c),
         s AS (SELECT *,
             last_value(cts IGNORE NULLS) OVER w AS click_ts,
             last_value(cv IGNORE NULLS) OVER w AS click_value
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts, click_ts, click_value
         FROM s WHERE side = 1""",
    "q_asof_tolerance" ->
      // strict: the left row sorts BEFORE same-timestamp right rows
      // (side 0 vs 1), so an equal-ts click is not yet visible to the
      // running last_value; tolerance: matches staler than 2 h null out
      """WITH v AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'),
         c AS (SELECT user_id, ts AS cts, max(value) AS cv FROM events
               WHERE event_type = 'click' GROUP BY 1, 2),
         u AS (
           SELECT user_id, ts, 0 AS side, event_id,
                  NULL::TIMESTAMP AS cts, NULL::DOUBLE AS cv FROM v
           UNION ALL
           SELECT user_id, cts AS ts, 1 AS side, NULL::BIGINT AS event_id,
                  cts, cv FROM c),
         s AS (SELECT *,
             last_value(cts IGNORE NULLS) OVER w AS mts,
             last_value(cv IGNORE NULLS) OVER w AS mv
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts,
           CASE WHEN mts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(mts) <= 7200000000
             THEN mts END AS click_ts,
           CASE WHEN mts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(mts) <= 7200000000
             THEN mv END AS click_value
         FROM s WHERE side = 0""",
    "q_range_join" ->
      // the bins are implementation detail; the oracle states the
      // declarative inequality-join semantics directly
      """WITH busy AS (SELECT date_trunc('hour', ts) AS window_start,
                CAST(count(*) AS BIGINT) AS n_events
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1 HAVING count(*) >= 8),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'error')
         SELECT p.event_id, p.user_id, p.ts, b.window_start, b.n_events
         FROM p JOIN busy b ON p.ts >= b.window_start
           AND p.ts <= b.window_start + INTERVAL 1 HOUR
                        - INTERVAL 1 MICROSECOND""",
    "q_band_join_rule" ->
      // shared verbatim with q_range_join: the optimizer rule is pure
      // plan surgery, semantics unchanged
      """WITH busy AS (SELECT date_trunc('hour', ts) AS window_start,
                CAST(count(*) AS BIGINT) AS n_events
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1 HAVING count(*) >= 8),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'error')
         SELECT p.event_id, p.user_id, p.ts, b.window_start, b.n_events
         FROM p JOIN busy b ON p.ts >= b.window_start
           AND p.ts <= b.window_start + INTERVAL 1 HOUR
                        - INTERVAL 1 MICROSECOND""",
    "q_salted_join" ->
      // the salt is implementation detail; semantics = the plain join
      """WITH prof AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_signups,
              min(ts) AS first_signup
            FROM events WHERE event_type = 'signup' GROUP BY 1)
         SELECT p.event_id, p.user_id, p.value, prof.n_signups,
                prof.first_signup
         FROM events p JOIN prof USING (user_id)
         WHERE p.event_type = 'purchase'""",
    "q_graph_funnel" ->
      // shared verbatim with q_funnel
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
    "q_tpch_q10" -> s"""
         SELECT c_custkey, c_name, n_name, $drevenueSql AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_funnel" ->
      // greedy first-match per stage; CASE-over-null propagates an
      // unreached stage exactly like the Spark when()
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
    "q_compaction_exec" ->
      // compaction rewrites files, never rows: the surviving store
      // projection IS the source projection
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem""",
    "q_compaction_plan" ->
      // same deterministic (bytes DESC, doc_id) order, running sum,
      // pure integer floor-division bin rule
      """WITH f AS (SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS bytes
            FROM documents),
         c AS (SELECT doc_id, bytes,
              SUM(bytes) OVER (ORDER BY bytes DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM f)
         SELECT doc_id, bytes,
                CAST((cum - bytes) // 4096 AS BIGINT) AS bin FROM c""",
    "q_hll_join" -> hllOverlapSql,
    "q_zorder" ->
      // bit-for-bit replay of quantize (same IEEE op order: subtract,
      // divide, multiply, floor, clamp) + the LSB-first interleave
      """SELECT event_id, CAST(list_sum(list_transform(range(0, 10), b ->
             (((uq >> b) & 1) << (2*b)) + (((vq >> b) & 1) << (2*b + 1))))
           AS BIGINT) AS zval
         FROM (SELECT event_id,
            CAST(least(greatest(
              floor((CAST(user_id AS DOUBLE) - 0.0) / 256.0 * 1024.0),
              0.0), 1023.0) AS BIGINT) AS uq,
            CAST(least(greatest(
              floor((value - 0.0) / 512.0 * 1024.0),
              0.0), 1023.0) AS BIGINT) AS vq
          FROM events)""",
  )
}
