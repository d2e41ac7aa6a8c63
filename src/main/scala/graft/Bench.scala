package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Machine-speed calibration: a fixed single-thread integer loop
    * (~0.4 s nominal) timed before and after the query loop, plus an
    * all-cores variant (same loop × one thread per core). Bench totals
    * have swung ±15% across sessions on identical code ("session
    * pressure", rounds 6-8); emitting cal numbers with every run turns
    * that from an assumption into a measurement — if cal_pre/cal_post
    * drift between runs, the machine moved, not the plans. Loop result
    * is data-dependent so the JIT cannot dead-code it. */
  private def calOnce(): Double = {
    val t0 = System.nanoTime()
    var s = 0L; var i = 0L
    while (i < 400000000L) { s += i * 31 + (s >>> 7); i += 1 }
    if (s == 42L) System.err.print("") // defeat DCE; never true in practice
    (System.nanoTime() - t0) / 1e9
  }

  private def calAll(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => calOnce())
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The round-1 baseline query surface: the exact 56 query names behind
    * BASELINE.md's 148.67 s sf0.1 record (BENCH_r01.json's per-query map).
    * The 2× bound is evaluated like-for-like on THIS set — the full-surface
    * total grows with every round's added coverage and is tracked but not
    * bounded. Emitted per full run as baseline_subset_total_sec /
    * baseline_subset_ratio so the official artifact certifies the bound
    * itself (round-13 verdict task 1). */
  private val Baseline56: Set[String] = Set(
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
  private val BaselineRefSec = 148.67

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine confs (codegen-class cache sized to the query surface,
    // streaming checkpoint housekeeping, graft_* extensions) come from
    // the shared GraftSession builder — the same set every engine
    // session gets, see GraftSession.tuned's scaladoc. Identical conf
    // values to r14's bench session; only the ownership moved.
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/scan warm-up outside the timed loop (alphabetically-first
    // query otherwise absorbs ~4s of session + classloading cost)
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up q1_agg failed: ${e.getMessage}") }
    }
    // dev loop: SPARK_GRAFT_ONLY=q_a,q_b times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val nThreads = Runtime.getRuntime.availableProcessors()
    val calPre1 = calOnce(); val calPreN = calAll(nThreads)
    // steady-state measurement: run EVERY query once against the smallest
    // scale factor first (untimed) so whole-stage-codegen compilation and
    // JIT of each plan shape happen outside the timed loop — first
    // execution of a heavy plan otherwise costs 2-4× its steady state
    // (ProfileCuration in BENCH_NOTES: 10 s cold vs 2.7 s warm), charged
    // to whichever query hits the shape first. Opt out with
    // SPARK_GRAFT_NO_WARMUP=1.
    val warmDir = new java.io.File(sfDir).getCanonicalFile.getParentFile match {
      case null => None
      case p => Some(new java.io.File(p, "sf0.001").getCanonicalFile)
        .filter(d => d.isDirectory &&
          d != new java.io.File(sfDir).getCanonicalFile)
        .map(_.toString)
    }
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) warmDir.foreach { wd =>
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (n, fn) =>
          // NonFatal only: an OOM or similar fatal error must propagate,
          // not be silently swallowed into a mystery slow/failed bench
          try fn(spark, wd).write.format("noop").mode("overwrite").save()
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warm-up $n failed: ${e.getMessage}") }
        }
      spark.sharedState.cacheManager.clearCache()
    }
    // diagnostic (stderr only): how much of the TIMED loop goes to
    // Janino codegen compilation — the generated-class cache is a
    // static conf (default 100 entries) and a 300-query surface can
    // evict warm-up's classes before the timed loop reuses them (r14)
    def codegenCompileMs(): (Long, Long) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum)
    }
    val cgPre = codegenCompileMs()
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // per-query isolation (untimed): caches persisted by a previous
      // query and not yet swept by the ContextCleaner otherwise bleed GC
      // pressure into unrelated queries (the round-2 filter-tier noise)
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      // noop sink forces full materialization of every output column —
      // count() alone would let Catalyst prune the projections away and
      // bench nothing.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    // a failed query's time-to-failure is not a timing: it stays out of
    // the total and every per-query map, is listed under "failed", and
    // makes the run exit nonzero
    val results = timed.collect { case (n, t, true) => n -> t }
    val failed = timed.collect { case (n, _, false) => n }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // 3-decimal (ms) per-query precision keeps the JSON line ~40% shorter
    // than full-double formatting — rounds 2 and 3 both lost the head of
    // the one long line to the driver's bounded tail capture
    def r3(v: Double): String = // locale-independent (no comma decimals)
      (math.round(v * 1000) / 1000.0).toString
    def r2(v: Double): String =
      (math.round(v * 100) / 100.0).toString
    val cgPost = codegenCompileMs()
    // the count delta is exact; the ms figure sums a SAMPLED reservoir
    // snapshot (Codahale histogram), so it undercounts once compilations
    // exceed the reservoir size — label it as the lower bound it is
    System.err.println(s"[bench] codegen compiles in timed loop: " +
      s"${cgPost._1 - cgPre._1} (>= ${cgPost._2 - cgPre._2} ms, sampled)")
    val calPost1 = calOnce(); val calPostN = calAll(nThreads)
    val cal = s"""[${r3(calPre1)},${r3(calPreN)},${r3(calPost1)},${r3(calPostN)}]"""
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Cal-normalized total: the all-core calibration loop reads
    // ~CalRefAllCores seconds on the REFERENCE machine when clean
    // (this host's BENCH_NOTES band, rounds 4-12); under session
    // pressure it inflates proportionally with the query times.
    // total × ref / mean(all-core cal) projects the run onto the clean
    // band so the artifact itself carries the normalization the notes
    // previously reconstructed by hand. The reference band is
    // MACHINE-SPECIFIC: on any other host set SPARK_GRAFT_CAL_REF to
    // that host's clean all-core band (or ignore cal_norm). The ref
    // used is emitted as "cal_ref" so the artifact is self-describing.
    // Method documented in BASELINE.md.
    val calRef = sys.env.get("SPARK_GRAFT_CAL_REF")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .filter(v => v > 0).getOrElse(0.72)
    val calNBar = (calPreN + calPostN) / 2.0
    val calNorm = if (calNBar > 0) total * calRef / calNBar else total
    // Like-for-like 2× certification (round-13 verdict task 1): sum the
    // per-query times of the r1 baseline surface out of this run's own map
    // — zero extra runtime. Emitted only when ALL 56 ran (a SPARK_GRAFT_ONLY
    // subset must not publish a partial sum as the baseline total).
    val baseTimes = results.collect { case (n, v) if Baseline56(n) => v }
    val baseFields =
      if (baseTimes.size == Baseline56.size) {
        val bt = baseTimes.sum
        s""","baseline_subset_total_sec":${r3(bt)},"baseline_ref_sec":$BaselineRefSec,"baseline_subset_ratio":${r3(bt / BaselineRefSec)}"""
      } else ""
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"cal":$cal,"cal_ref":$calRef,"sf":"$sfDir","total_sec":${r3(total)},"cal_norm_total_sec":${r3(calNorm)},"failed":$failedJson$baseFields}"""
    // Lossless full-name record on disk, twice: BENCH_LOCAL.json
    // (gitignored, machine-local scratch) and BENCH_FULL.json (committed —
    // the per-query decomposition of the OFFICIAL run, since the driver
    // executes this main inside the repo and the round close-out commits
    // the working tree; the stdout tail below carries only totals + top-K).
    // COMMITTED artifacts (BENCH_FULL/BENCH_LINE) are written only by
    // FULL runs: a targeted SPARK_GRAFT_ONLY dev run must never clobber
    // the official per-query map or stdout line with subset totals.
    // BENCH_LOCAL.json (gitignored scratch) always records the run.
    val fullRun = only.isEmpty
    for (f <- Seq("BENCH_LOCAL.json") ++
        (if (fullRun) Seq("BENCH_FULL.json") else Nil)) {
      try {
        val w = new java.io.PrintWriter(f)
        try w.println(line) finally w.close()
      } catch { case scala.util.control.NonFatal(_) => }
    }
    println(line) // full-name map, for any log capture wide enough to hold it
    // The driver records only the LAST 2000 bytes of stdout and parses the
    // bench JSON out of that window (BENCH_r04.json: tail LEN == 2000,
    // parsed == null because the 3.1 KB full-name line starts before the
    // window). The FINAL line must therefore be a complete JSON object in
    // under ~1900 bytes. Rounds 2-11 tried to keep EVERY per-query time on
    // the line via a name-free "qv" array; at 290 queries that squeezed the
    // top-K map to empty and at ~307 it would overflow the window outright
    // (BENCH_r11: parsed == null). The per-query map now lives in
    // BENCH_FULL.json (above) and the final line carries only totals, cal,
    // and the heaviest queries by full name — its size is bounded by the
    // top-K search regardless of how many queries exist.
    val budget = 1700
    def compact(topK: Int): String = {
      val top = results.sortBy(-_._2).take(topK)
        .map { case (k, v) => s"\"" + k + "\":" + r2(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$top,"nq":${results.size},"full":"BENCH_FULL.json","cal":$cal,"cal_ref":$calRef,"sf":"$sfDir","total_sec":${r3(total)},"cal_norm_total_sec":${r3(calNorm)},"failed":$failedJson$baseFields}"""
    }
    val shortLine = Iterator.iterate(48)(_ - 4).takeWhile(_ >= 0)
      .map(compact).find(_.length <= budget).getOrElse(compact(0))
    // The exact final stdout line, as a bare committed file: the
    // driver's stdout-tail parser has returned parsed:null two rounds
    // running, so the line must survive somewhere no log capture or
    // [info]-prefix quirk can mangle (round-12 verdict task 2b).
    // Full runs only — see the BENCH_FULL guard above.
    if (fullRun) try {
      val w = new java.io.PrintWriter("BENCH_LINE.json")
      try w.println(shortLine) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => }
    // BENCH_r05 stayed parsed:null even though the compact line sat
    // complete inside the 2000-byte window: a greedy first-'{' …
    // last-'}' extraction starts in the TRUNCATED head of the full-name
    // line above and parses garbage. A brace-free pad line longer than
    // the window pushes every earlier line out of it, so the only braces
    // the window can contain are the final compact object's (the budget
    // above leaves room for sbt's "[info] " prefix and its closing
    // "[success] Total time" line, both brace-free).
    println("=" * 2000)
    println(shortLine)
    // a copy on stderr: if any stdout capture layer decorates or
    // truncates lines (sbt's [info] prefix broke the driver's line-based
    // parse for four rounds before run/outputStrategy := StdoutOutput),
    // the stderr stream still carries the bare object
    System.err.println(shortLine)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
