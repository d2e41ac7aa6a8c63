package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General-purpose temporal table joins the built-in operator set lacks:
  * as-of (point-in-time) joins and interval/range joins. The reference's
  * only temporal alignment is the cube-level nearest-time relabel
  * (openeo_odc_driver.py:360-380 → [[Joins.resampleCubeTemporal]]); these
  * are the event-table generalizations a training-data / analytics
  * pipeline needs (feature attribution, session attribution, window
  * containment) expressed in the scalable shapes.
  *
  * == Why not join-then-filter-then-argmax ==
  * The naive as-of formulation — equi-join on key, filter `r.ts <= l.ts`,
  * window-argmax per left row — materializes |L_k| x |R_k| intermediate
  * rows per key before the filter prunes them: quadratic in the per-key
  * row count, a scale cliff at 100 TB (a key with 1e6 left and 1e6 right
  * rows explodes to 1e12 pairs). The union-sort-window shape below is
  * linear: both sides shuffle ONCE (together, as one exchange on the
  * key), sort by (ts, side), and a running `last(payload, ignoreNulls)`
  * carries the most recent right payload forward onto each left row.
  * Cost: one exchange + one sort over |L| + |R| rows, no intermediate
  * blow-up, no driver traffic.
  *
  * == Skew ==
  * A pathologically hot key serializes its |L_k| + |R_k| rows into one
  * sort task. The escape hatch (not needed at bench scale, documented
  * for 100 TB): range-split the hot key's timeline into chunks, run the
  * window per chunk, and carry each chunk's closing payload into the
  * next chunk's head via a second tiny pass over the per-chunk closers —
  * the standard segmented-scan decomposition of a running aggregate.
  */
object TableJoins {

  /** As-of join: attach to each left row the payload of the most recent
    * right row with the same key and `right.ts <= left.ts` (backward; the
    * default) or the earliest with `right.ts >= left.ts` (forward).
    *
    * @param left       point table; all its columns pass through
    * @param right      lookup table
    * @param keys       equality keys present on both sides
    * @param leftTs     left timestamp column name
    * @param rightTs    right timestamp column name
    * @param payload    right columns to attach (must not collide with
    *                   left's column names)
    * @param strict     exclude right rows at exactly `left.ts`
    * @param toleranceMicros if set, matches farther than this from the
    *                   left timestamp yield null payloads (the pandas
    *                   `merge_asof(tolerance=)` semantics)
    * @param forward    direction: false = backward (default), true =
    *                   forward
    *
    * Determinism: multiple right rows on the same (key, ts) are resolved
    * to the greatest payload tuple (struct-max), so the result is
    * independent of partitioning and input order — the property every
    * oracle row in this repo needs and pandas' merge_asof (which keeps
    * whichever row came last in input order) lacks.
    *
    * Null keys follow SQL equi-join semantics: a key with ANY null
    * component never matches. Null-keyed right rows are ignored;
    * null-keyed left rows pass through with null payloads (pandas'
    * merge_asof rejects null keys outright — a LEFT join has no such
    * option, so SQL's null-never-equals-null is the contract here,
    * identical across [[asofJoin]], [[asofJoinNative]], and
    * [[asofJoinSegmented]]; law-tested in TableJoinsSpec).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      strict: Boolean = false, toleranceMicros: Option[Long] = None,
      forward: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "asofJoin needs at least one equality key")
    require(payload.nonEmpty, "asofJoin needs at least one payload column")
    val collide = payload.toSet intersect left.columns.toSet
    require(collide.isEmpty, s"payload collides with left columns: $collide")

    // one row per (key, ts) on the right: struct-max over (payload) makes
    // same-timestamp ties deterministic before the scan ever sees them.
    // Null-keyed right rows are dropped FIRST (SQL equi-join semantics:
    // null never matches); a null-keyed left row then lands in a window
    // partition containing no right rows and scans to a null payload.
    val rightDedup = right
      .where(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy((keys.map(col) :+ col(rightTs).as("_ats")): _*)
      .agg(max(struct(payload.map(col): _*)).as("_ap"))

    val leftCols = left.columns.toSeq
    // union schema: left columns + (_ats, _ap, _side). Right rows carry
    // null left columns; left rows carry a null payload.
    val lTagged = left
      .withColumn("_ats", col(leftTs))
      .withColumn("_ap", lit(null).cast(rightDedup.schema("_ap").dataType))
      .withColumn("_side", lit(if (strict) 0 else 1))
    val rTagged = rightDedup
      .select(keys.map(col) :+ col("_ats") :+ col("_ap"): _*)
      .withColumn("_side", lit(if (strict) 1 else 0))
    val unioned = lTagged.select(
        (keys.map(col) :+ col("_ats") :+ col("_ap") :+ col("_side")) ++
          leftCols.filterNot(keys.contains).map(c =>
            col(c).as(s"_l_$c")): _*)
      .unionByName(rTagged, allowMissingColumns = true)

    // ONE exchange: partition by key, order by time (negated for the
    // forward direction so "most recent before" becomes "first after"),
    // side ordering encodes strict vs inclusive at equal timestamps
    val tsu = unix_micros(col("_ats"))
    val ord = if (forward) -tsu else tsu
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord.asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = unioned
      .withColumn("_match", last(col("_ap"), ignoreNulls = true).over(w))
      .withColumn("_match_ts",
        last(when(col("_ap").isNotNull, col("_ats")), ignoreNulls = true)
          .over(w))
      .where(col("_side") === lit(if (strict) 0 else 1))

    val withinTol = toleranceMicros match {
      case Some(tol) =>
        val gap =
          if (forward) unix_micros(col("_match_ts")) - unix_micros(col("_ats"))
          else unix_micros(col("_ats")) - unix_micros(col("_match_ts"))
        col("_match_ts").isNotNull && gap <= tol
      case None => col("_match_ts").isNotNull
    }
    val gated = scanned.withColumn("_m2",
      when(withinTol, col("_match")))
    val out = keys.map(col) ++
      leftCols.filterNot(keys.contains).map(c => col(s"_l_$c").as(c)) ++
      payload.map(p => col("_m2").getField(p).as(p))
    gated.select(out: _*)
  }

  /** The as-of join through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsofJoinExec]]): same semantics as [[asofJoin]]
    * (law-tested), executed as one streaming merge over co-partitioned,
    * co-sorted children with O(1) per-partition state — no union row
    * widening, no window machinery. Registers
    * [[graft.plans.AsofJoinStrategy]] on the live session idempotently
    * (sessions built with [[graft.GraftExtensions]] already have it). */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      strict: Boolean = false,
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "asofJoinNative needs at least one key")
    require(payload.nonEmpty, "asofJoinNative needs payload columns")
    val spark = left.sparkSession
    graft.GraftExtensions.registerAll(spark)
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds on the right: self-joins (both sides filtered from
    // one source) would otherwise carry duplicate attribute ids across
    // the children, which the analyzer only disambiguates for built-in
    // Join nodes
    val rAnalyzed = right.queryExecution.analyzed
    val rPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      rAnalyzed.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
      rAnalyzed)
    val rOut = rPlan.projectList.map(_.toAttribute)
    def la(n: String) = lPlan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"left column '$n' not found"))
    def ra(n: String) = rOut.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"right column '$n' not found"))
    val out = org.apache.spark.sql.graft.Bridge.ofRows(spark,
      graft.plans.AsofJoinPlan(lPlan, rPlan,
        keys.map(la), keys.map(ra), la(leftTs), ra(rightTs),
        payload.map(ra), strict, toleranceMicros))
    // column order contract shared with asofJoin: keys, left rest, payload
    val ordered = keys ++ left.columns.filterNot(keys.contains) ++ payload
    out.select(ordered.map(col): _*)
  }

  /** The as-of join's HOT-KEY escape hatch, promoted to code: a key
    * whose |L_k| + |R_k| rows would serialize into one sort task is
    * instead split into time-contiguous SEGMENTS of `segmentMicros`, the
    * running-last window runs per (key, segment) — parallel across
    * segments — and each segment inherits the latest payload any EARLIER
    * segment closed with, via a tiny per-segment carry table (one row
    * per non-empty segment) scanned with a second cumulative window.
    * This is the standard segmented-scan decomposition of a running
    * aggregate; output is row-identical to [[asofJoin]] (law-tested).
    *
    * Tolerance needs the matched timestamp, which the carry must also
    * transport; to keep the carry one struct the payload travels as
    * (match_ts, payload) and the gate re-derives. Backward direction
    * only (the forward mirror is symmetric; compose with a negated
    * timestamp column if needed). */
  def asofJoinSegmented(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      payload: Seq[String], segmentMicros: Long,
      strict: Boolean = false,
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(segmentMicros > 0, "segmentMicros must be positive")
    require(keys.nonEmpty, "asofJoinSegmented needs at least one key")
    require(payload.nonEmpty, "asofJoinSegmented needs payload columns")
    val collide = payload.toSet intersect left.columns.toSet
    require(collide.isEmpty, s"payload collides with left columns: $collide")

    val rightDedup = right
      .where(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy((keys.map(col) :+ col(rightTs).as("_ats")): _*)
      .agg(max(struct(payload.map(col): _*)).as("_ap"))
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("_ats", col(leftTs))
      .withColumn("_ap", lit(null).cast(rightDedup.schema("_ap").dataType))
      .withColumn("_side", lit(if (strict) 0 else 1))
    val rTagged = rightDedup
      .select(keys.map(col) :+ col("_ats") :+ col("_ap"): _*)
      .withColumn("_side", lit(if (strict) 1 else 0))
    val unioned = lTagged.select(
        (keys.map(col) :+ col("_ats") :+ col("_ap") :+ col("_side")) ++
          leftCols.filterNot(keys.contains).map(c =>
            col(c).as(s"_l_$c")): _*)
      .unionByName(rTagged, allowMissingColumns = true)
      .withColumn("_seg", (unix_micros(col("_ats")) / segmentMicros)
        .cast("long"))

    // intra-segment running last — partitioned by (key, seg): a hot
    // key's timeline spreads over its segments instead of one task
    val segKeys = keys.map(col) :+ col("_seg")
    val wIn = Window.partitionBy(segKeys: _*)
      .orderBy(unix_micros(col("_ats")).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = unioned
      .withColumn("_m", last(
        when(col("_ap").isNotNull, struct(col("_ats").as("mts"),
          col("_ap").as("mp"))), ignoreNulls = true).over(wIn))

    // per-segment closers: ONE row per (key, non-empty segment) — the
    // latest right payload the segment ends with. Strictly-before carry:
    // each segment needs the latest closer from segments < its own.
    val closers = marked
      .groupBy(segKeys: _*)
      .agg(max_by(col("_m"), struct(unix_micros(col("_ats")),
        col("_side"))).as("_closer"))
    val wCarry = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_seg").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = closers
      .withColumn("_carry", last(col("_closer"), ignoreNulls = true)
        .over(wCarry))
      .select(segKeys :+ col("_carry"): _*)

    val gatedMatch = coalesce(col("_m"), col("_carry"))
    val withinTol = toleranceMicros match {
      case Some(tol) =>
        gatedMatch.isNotNull &&
          unix_micros(col("_ats")) -
            unix_micros(gatedMatch.getField("mts")) <= tol
      case None => gatedMatch.isNotNull
    }
    val out = keys.map(col) ++
      leftCols.filterNot(keys.contains).map(c => col(s"_l_$c").as(c)) ++
      payload.map(p =>
        when(withinTol, gatedMatch.getField("mp").getField(p)).as(p))
    // NULL-SAFE key equality: this is an internal self-join stitching each
    // (key, segment) group back to its own carry row, where a null key is
    // a legitimate group identity (a null-keyed LEFT row must survive to
    // emit its null payload — SQL null-never-matches applies to the
    // left-vs-right match, enforced upstream by the right-side filter,
    // not to this bookkeeping join). <=> keys still hash-partition, so
    // the join stays a shuffled equi-join.
    val carryR = carry.select(
      keys.zipWithIndex.map { case (k, i) => col(k).as(s"_ck$i") } ++
        Seq(col("_seg").as("_cseg"), col("_carry")): _*)
    val cond = keys.zipWithIndex.map { case (k, i) => col(k) <=> col(s"_ck$i") }
      .reduce(_ && _) && col("_seg") === col("_cseg")
    marked
      .join(carryR, cond)
      .where(col("_side") === lit(if (strict) 0 else 1))
      .select(out: _*)
  }

  /** Skew-safe equi-join: the LEFT side has hot keys (a handful of keys
    * holding a large share of rows) and the right side is too big to
    * broadcast, so the plain shuffle join serializes each hot key into
    * one straggler task. Salting spreads it: every left row gains a
    * deterministic pseudo-uniform salt in `[0, saltFactor)` derived from
    * hashing the whole row, the right side replicates each row
    * `saltFactor` times (one per salt value), and the join runs on
    * (keys, salt) — a hot key's rows now land on `saltFactor` tasks.
    * Result is row-identical to the unsalted join (law-tested): each
    * left row joins exactly the right rows of its key, once.
    *
    * Cost: the right side shuffles `saltFactor` times its size — use
    * ONLY when the left side's skew dominates (the 100 TB calculus:
    * right-side inflation is linear and spread evenly; a hot-key
    * straggler is a wall-clock cliff). Spark's AQE skew-join
    * (`spark.sql.adaptive.skewJoin.enabled`) handles the SORT-MERGE
    * case at runtime and should be preferred when it applies; this
    * operator is the explicit, plan-stable form that also covers the
    * hash-join path and engines/pipelines where AQE is off.
    *
    * Supported join types: `inner` and `left` (semantics preserved
    * because each left row appears exactly once, with one salt).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      saltFactor: Int, joinType: String = "inner"): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    require(keys.nonEmpty, "saltedJoin needs equality keys")
    val l = left.withColumn("_salt",
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(saltFactor))
        .cast("int"))
    val r = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    l.join(r, keys :+ "_salt", joinType).drop("_salt")
  }

  /** SCD2-style validity intervals: turn a per-key CHANGE LOG (one row
    * per key per change timestamp) into history rows
    * `[valid_from, valid_to)` — `valid_to` = the key's next change, null
    * for the current row. One window over one exchange on the key; the
    * standard slowly-changing-dimension materialization every warehouse
    * needs before an as-of or range join against history. Duplicate
    * (key, ts) change rows should be pre-deduped by the caller (they
    * would create zero-width intervals). */
  def validityIntervals(changes: DataFrame, keys: Seq[String],
      tsCol: String): DataFrame = {
    require(keys.nonEmpty, "validityIntervals needs at least one key")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol).asc)
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Apply a CDC CHANGE LOG to a base snapshot — the lakehouse
    * MERGE/upsert shape (insert + update + delete) that produces the
    * next snapshot of a continuously-maintained table.
    *
    * Executed as ONE aggregation, never a join: base rows union in as
    * generation 0 (any change outranks them), change rows as
    * generation 1 ordered by `tsCol`, and the per-key winner is a
    * single struct-max aggregate over (gen, ts, op, payload…) —
    * map-side combined, one shuffle on the keys, O(1) state per key in
    * each task. Winners with op = "D" drop (the delete applies);
    * everything else emits the winning payload. A MERGE formulated as
    * base-full-outer-join-changes re-shuffles BOTH sides and breaks
    * when the log holds several changes per key; the union-aggregate
    * handles any number of changes per key in the same pass.
    *
    * Determinism: among equal (key, ts) changes the struct max resolves
    * by (op desc, payload desc) — deterministic but arbitrary, same
    * contract as [[asofJoin]]'s same-timestamp struct-max rule; callers
    * with meaningful collisions should disambiguate ts. Base must hold
    * at most one row per key (it is a snapshot).
    *
    * `changes` must carry the key columns, `tsCol`, `opCol`
    * (values "I"/"U"/"D") and the same payload columns as `base`. */
  def applyChangelog(base: DataFrame, changes: DataFrame,
      keys: Seq[String], tsCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "applyChangelog needs at least one key")
    val payload = base.columns.filterNot(keys.contains).toSeq
    val epoch = lit("1970-01-01 00:00:00").cast("timestamp")
    val b = base.select(keys.map(col) ++ Seq(lit(0L).as("_gen"),
      epoch.as("_ts"), lit("I").as("_op")) ++ payload.map(col): _*)
    val c = changes.select(keys.map(col) ++ Seq(lit(1L).as("_gen"),
      col(tsCol).as("_ts"), col(opCol).as("_op")) ++ payload.map(col): _*)
    val ordered = struct(col("_gen") +: col("_ts") +: col("_op") +:
      payload.map(col): _*)
    b.unionByName(c)
      .groupBy(keys.map(col): _*)
      .agg(max(ordered).as("_w"))
      .where(col("_w._op") =!= "D")
      .select(keys.map(col) ++ payload.map(p => col(s"_w.$p").as(p)): _*)
  }

  /** Interval (range) join: pair each point row with every interval row
    * whose `[startCol, endCol]` contains `pointTs`, matching on optional
    * equality `keys` first. Inclusive on both endpoints.
    *
    * == The binning trick ==
    * Spark executes a raw inequality join as BroadcastNestedLoopJoin
    * (fine only when one side broadcasts) or a cartesian product — a
    * non-starter when both sides are large. Quantizing time into
    * `binMicros`-wide bins turns it into an EQUI-join: each interval
    * explodes into the bins it overlaps (bounded by interval-length /
    * binMicros + 1 rows), each point maps to exactly one bin, the join
    * runs hash/sort-merge on (keys, bin), and the exact predicate
    * re-filters. Each (point, interval) pair meets in EXACTLY one bin —
    * the point's — so no dedup pass is needed. Choose `binMicros` near
    * the typical interval length: explode factor stays O(1) and the
    * equi-join stays selective.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, pointTs: String,
      startCol: String, endCol: String, keys: Seq[String] = Nil,
      binMicros: Long = 3600L * 1000000L): DataFrame = {
    require(binMicros > 0, "binMicros must be positive")
    val ptBin = (unix_micros(col(pointTs)) / binMicros).cast("long")
    val binsCovered = sequence(
      (unix_micros(col(startCol)) / binMicros).cast("long"),
      (unix_micros(col(endCol)) / binMicros).cast("long"))
    val p = points.withColumn("_bin", ptBin)
    val iv = intervals.withColumn("_bin", explode(binsCovered))
    val joinKeys = keys :+ "_bin"
    p.join(iv, joinKeys)
      .where(col(pointTs) >= col(startCol) && col(pointTs) <= col(endCol))
      .drop("_bin")
  }
}
