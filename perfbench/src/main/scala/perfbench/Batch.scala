package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The engine batch workload `engine_batch`: a single caller runs named
  * rows of `SparkEntry.queries` one at a time, each into the `noop` sink:
  * 22 openEO-process rows of the round-1 baseline surface (the 56-row
  * list `graft.Bench` keeps privately as `Baseline56`: filters,
  * reducers, temporal and spatial aggregation, zonal statistics,
  * resampling, SAR, curve fitting, kernels, band math, masks and merges)
  * and two write-path rows (micro-batches with windowed state, and a
  * snapshot commit).
  *
  * The subset keeps one run, set-up included, near 45 s on a 4-core
  * host, so that the benchmark's runs fit their time budget; the full
  * lists take 45-70 s (56 rows) and 90 s (48 stream and snapshot rows)
  * just to warm up.
  *
  * Set-up runs every row once, writing each result to parquet for the
  * DuckDB oracle check that follows the run, then [[WarmPasses]] passes
  * into noop. The timed region then runs the rows, in an order permuted
  * by the seed, pass after pass for `seconds` (at least one whole pass);
  * `pass_s` is the sum of the rows' median calls. */
object Batch {
  val Baseline56: Seq[String] = Seq(
    "q1_agg", "q_add_dimension", "q_agg_period_day_max",
    "q_agg_period_season_max", "q_agg_period_week_sum",
    "q_agg_spatial_window", "q_ann_topk", "q_ann_topk_ivf",
    "q_ann_topk_lsh", "q_anomaly", "q_apply_compare", "q_apply_kernel",
    "q_apply_math", "q_apply_scalars", "q_array_element", "q_band_math_nd",
    "q_climatology", "q_dedup_embedding", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_simhash", "q_filter_bands", "q_filter_bbox",
    "q_filter_spatial", "q_filter_temporal", "q_fit_curve", "q_geocode",
    "q_graph_pipeline", "q_interp_linear", "q_join_bcast",
    "q_load_collection", "q_load_result", "q_mask",
    "q_merge_cubes_resolver", "q_merge_cubes_union", "q_predict_curve",
    "q_quantiles", "q_radar_mask", "q_reduce_band_max",
    "q_reduce_time_count", "q_reduce_time_max", "q_reduce_time_mean",
    "q_reduce_time_median", "q_reduce_time_min", "q_reduce_time_product",
    "q_reduce_time_sd", "q_reduce_time_sum", "q_rename_labels",
    "q_resample_cube_spatial", "q_resample_cube_temporal",
    "q_resample_spatial_bilinear", "q_sar_bbox_lonlat", "q_text_langid",
    "q_text_quality", "q_text_tokens", "q_zonal_stats")

  /** Rows that differ from a kept row only in the reducer or period name
    * (kept: median, product and sd over time; the seasonal period). */
  val NearDuplicates: Set[String] = Set("q_reduce_time_count",
    "q_reduce_time_max", "q_reduce_time_mean", "q_reduce_time_min",
    "q_reduce_time_sum", "q_agg_period_day_max", "q_agg_period_week_sum")

  /** Rows left out for the run budget: variants of a kept operator
    * (scalar and comparison `apply`, product and sd reducers, the
    * resolver merge, climatology), metadata-only steps (array element,
    * band filter, label rename, add dimension, plain load) and the three
    * rows with the most eager work (geocode, graph pipeline, load
    * result). */
  val OutOfBudget: Set[String] = Set("q_apply_compare", "q_apply_scalars",
    "q_apply_math", "q_reduce_time_product", "q_reduce_time_sd",
    "q_merge_cubes_resolver", "q_climatology", "q_array_element",
    "q_filter_bands", "q_rename_labels", "q_add_dimension",
    "q_load_collection", "q_geocode", "q_graph_pipeline", "q_load_result")

  val CubeRows: Seq[String] = Baseline56.filterNot(n =>
    Seq("q_ann_", "q_dedup_", "q_text_", "q1_agg", "q_join_bcast").exists(n.startsWith) ||
    NearDuplicates.contains(n) || OutOfBudget.contains(n))

  /** Write-path rows: micro-batches with windowed state and state-store
    * commits (`q_stream_agg_period`) and a snapshot table commit
    * (`q_snapshot_write`). */
  val StreamRows: Seq[String] = Seq("q_stream_agg_period", "q_snapshot_write")

  /** Untimed noop passes after the oracle-dump pass. After that pass the
    * next two passes take about 1.3 and 1.15 times the time of later
    * ones (JIT) and the third on are flat; one warm pass leaves the
    * residual to the first timed pass, which each row's median over its
    * calls in the window (1-2 on a loaded host, 2-3 on a quiet one)
    * partly discounts. A second warm pass would not fit the run budget. */
  val WarmPasses = 1

  val Rows: Seq[String] = CubeRows ++ StreamRows

  /** Normalized executed plan: expression ids, plan ids, object hashes,
    * paths and UUIDs removed, so equal plans hash equal across runs.
    * `maskLiterals` also drops numbers, so requests drawn from one
    * template with different constants share a fingerprint. */
  def planFingerprint(df: DataFrame, maskLiterals: Boolean = false): String =
    try {
      val plan = df.queryExecution.executedPlan.toString
      val s = (if (maskLiterals) plan.replaceAll("-?\\d+(\\.\\d+)?(E-?\\d+)?", "N") else plan)
        .replaceAll("#\\d+L?", "#")
        .replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
        .replaceAll("(file:)?/[^\\s,\\]\\)]*", "<path>")
        .replaceAll("@[0-9a-f]{4,}", "@")
      Main.md5(s).take(12)
    } catch { case NonFatal(e) => s"error:${e.getClass.getSimpleName}" }

  private final case class RowRun(wallS: Double, eagerS: Double,
      error: Option[Throwable])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val names = Rows
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown rows: ${missing.mkString(",")}")
    val fns = SparkEntry.queries
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    ctx.input("rows", names.size)

    def runRow(name: String, sink: DataFrame => Unit,
        between: () => Unit = () => ()): (RowRun, Option[DataFrame]) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val df = fns(name)(spark, ctx.dataDir)
        val t1 = System.nanoTime()
        between()
        val t2 = System.nanoTime()
        sink(df)
        val t3 = System.nanoTime()
        (RowRun(((t1 - t0) + (t3 - t2)) / 1e9, (t1 - t0) / 1e9, None), Some(df))
      } catch {
        case NonFatal(e) => (RowRun((System.nanoTime() - t0) / 1e9, 0, Some(e)), None)
      }
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // set-up: a first pass dumping every result for the oracle check,
    // then WarmPasses passes into noop in the seeded order
    val checkDir = s"${ctx.workDir}/check"
    ctx.setupPhase("warm") {
      ctx.info("warm_row_s", names.map { n =>
        val (r, _) = runRow(n, _.write.mode("overwrite").parquet(s"$checkDir/$n"))
        r.error.foreach(e => ctx.fail(n, "warm-up", e))
        ctx.attempt()
        n -> r.wallS
      }.toMap)
      Main.writeOracleSql(checkDir, names)
      ctx.info("warm_pass_s", (1 to WarmPasses).map { w =>
        order.map { n =>
          val (r, _) = runRow(n, noop)
          r.error.foreach(e => ctx.fail(n, s"warm-up pass $w", e))
          ctx.attempt()
          r.wallS
        }.sum
      })
    }
    Heap.checkpoint()
    ctx.calibrate("pre")

    // timed region: passes over the rows in the seeded order, one row call
    // at a time, while the window lasts and at least one whole pass; the
    // last pass may stop part-way. pass_s sums each row's median call, so
    // every call in the window counts. A traced run makes at least two
    // whole passes and traces every other row call, shifted by one each
    // pass, so each row runs traced and untraced, half the rows traced
    // first; the ratio of the two gives the tracing overhead.
    val n = order.size
    val clean, failedCalls, tracedClean =
      scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
    val perRow = scala.collection.mutable.Map[String, ArrayBuffer[Map[String, Any]]]()
    var layer = Counters.empty
    var eagerS = 0.0; var eagerJobs = 0L; var tracedCalls = 0
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    val passWalls = ArrayBuffer[Double]()
    var k = 0
    while (k < n || elapsed < ctx.seconds || (ctx.traced && k < 2 * n)) {
      val name = order(k % n)
      val pass = k / n
      val traced = ctx.traced && (k % n + pass) % 2 == 1
      if (!traced) {
        val (r, _) = runRow(name, noop)
        r.error match {
          case None =>
            clean.getOrElseUpdate(name, ArrayBuffer()) += r.wallS
            while (passWalls.size <= pass) passWalls += 0.0
            passWalls(pass) += r.wallS
          case Some(e) =>
            ctx.fail(name, s"pass $pass", e)
            failedCalls.getOrElseUpdate(name, ArrayBuffer()) += r.wallS
        }
      } else {
        val p = new Probe(spark).start()
        p.fence()
        val a = p.snapshot()
        var b = a
        val tRow = System.nanoTime()
        val (r, df) = runRow(name, noop, () => { p.fence(); b = p.snapshot() })
        p.fence()
        val d = p.snapshot() - a
        r.error.foreach(e => ctx.fail(name, s"pass $pass (traced)", e))
        if (r.error.isEmpty) tracedClean.getOrElseUpdate(name, ArrayBuffer()) += r.wallS
        layer = layer + d
        eagerS += r.eagerS; eagerJobs += (b - a)("jobs"); tracedCalls += 1
        ctx.trace.record(Span(ctx.trace.nextId(), 0, "row", name, tRow,
          tRow + (r.wallS * 1e9).toLong, d.values))
        perRow.getOrElseUpdate(name, ArrayBuffer()) += Map(
          "wall_s" -> r.wallS, "eager_s" -> r.eagerS,
          "eager_jobs" -> (b - a)("jobs"),
          "catalyst_ms" -> (d("analysis_ms") + d("optimization_ms") + d("planning_ms")),
          "task_run_ms" -> d("task_run_ms"), "task_cpu_ms" -> d("task_cpu_ns") / 1000000,
          "codegen_classes" -> d("compiles"), "jobs" -> d("jobs"),
          "stream_batches" -> d("batches"),
          "plan" -> df.map(planFingerprint(_)).getOrElse("failed"),
          "failed" -> r.error.isDefined)
        ctx.methodBytesMax = math.max(ctx.methodBytesMax, p.methodBytesMax)
        p.stop()
      }
      ctx.attempt()
      k += 1
      // after the first pass only: later passes vary in number with host
      // speed, and the session keeps a record of every query it ran
      if (k == n) Heap.checkpoint()
    }
    ctx.calibrate("post")

    // a failed row call is reported, not timed: a row's median takes its
    // clean calls only (its failed calls only if none is clean, and then
    // the run is marked incorrect through its failures)
    val rowMedian = order.map { r =>
      r -> Stats.median(clean.getOrElse(r, failedCalls(r)).toSeq) }.toMap
    val passS = rowMedian.values.sum
    ctx.metric("pass_s", passS)
    // one row call is this workload's request: quantiles over the rows'
    // median calls (Harrell-Davis, as on openeo_serve: with a handful of
    // rows a plain quantile is one row's time)
    ctx.metric("req_p50_ms", Stats.hdQuantile(rowMedian.values.toSeq, 0.5) * 1e3)
    ctx.metric("req_p90_ms", Stats.hdQuantile(rowMedian.values.toSeq, 0.9) * 1e3)
    ctx.metric("req_per_s", n / passS)
    ctx.metric("live_heap_peak_mb", Heap.peakMb)
    ctx.info("heap_checkpoints_mb", Heap.checkpointsMb)
    ctx.info("row_calls", k)
    ctx.info("passes", k.toDouble / n)
    ctx.info("row_median_s", rowMedian)
    ctx.info("pass_walls_s", passWalls.take(k / n).toList)
    if (ctx.traced) {
      val tracedPass = order.map(r =>
        Stats.median(tracedClean.getOrElse(r, ArrayBuffer(Double.NaN)).toSeq)).sum
      ctx.metric("trace.overhead_ratio", tracedPass / passS)
      // layer counters per traced pass
      val passes = tracedCalls.toDouble / n
      ctx.metric("ops.eager_s", eagerS / passes)
      ctx.metric("ops.eager_jobs", eagerJobs / passes)
      ctx.layerCounters(layer, passes)
      ctx.info("rows_table", perRow.toSeq.sortBy(_._1).map { case (row, rs) =>
        val walls = rs.map(_("wall_s").asInstanceOf[Double]).toSeq
        val mid = rs.sortBy(_("wall_s").asInstanceOf[Double]).apply(rs.size / 2)
        mid ++ Map("row" -> row, "wall_s" -> Stats.median(walls),
          "plans" -> rs.map(_("plan")).distinct)
      })
      ctx.info("layer_basis", f"per traced pass, $passes%.2f traced passes")
    }
  }
}
