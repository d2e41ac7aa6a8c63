package graft

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import graft.functions.CurveFit
import graft.ops._
import graft.text.{Classifier, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._

/** Cube tier of the driver-contract query surface (r14 hygiene split of
  * SparkEntry's single 10.7k-line file; zero behavior change). Each tier
  * object contributes a `q` (queries) and `sql` (DuckDB oracle) map;
  * `SparkEntry.queries`/`SparkEntry.oracleSql` concatenate the tiers.
  * Shared helpers stay on SparkEntry as `private[graft]`. */
private[graft] object QueriesCube {

  def q: Map[String, Q] = Map(
    // --- scans / filters (S1, F1-F5) ------------------------------------
    "q_load_collection" -> ((s, dir) => {
      // scan with band + temporal pushdown, like load_collection
      val ev = readEvents(s, dir)
      val c = Cube(ev.select(col("ts").as(Dim.Time), col("event_type").as(Dim.Band),
        expr("CAST(user_id DIV 4 AS DOUBLE)").as(Dim.Y),
        expr("CAST(user_id % 4 AS DOUBLE)").as(Dim.X),
        col("value").as(Cube.ValueCol)))
      Filters.filterTemporal(
        Filters.filterBands(c, Seq("click", "view")),
        "2024-01-05", "2024-01-25").df
    }),
    "q_filter_temporal" -> onCube(c =>
      Filters.filterTemporal(c, "2024-01-10", "2024-01-20").df),
    "q_filter_bands" -> onCube(c =>
      Filters.filterBands(c, Seq("click", "purchase")).df),
    "q_filter_bbox" -> onCube(c =>
      Filters.filterBboxRef(c, west = 1.0, south = 0.0, east = 2.0, north = 2.0,
        graft.ops.EpsgRef(4326)).df),
    "q_array_element" -> onCube(c =>
      Filters.arrayElement(c, Some("purchase"), None).df),
    "q_filter_spatial" -> onCube(c =>
      // triangle polygon in cube coordinates (no CRS → no reprojection)
      Filters.filterSpatialRef(c,
        Seq(Seq((0.5, -0.5), (3.5, -0.5), (3.5, 2.5))), graft.ops.EpsgRef(4326)).df),
    // --- mask (F6/J4) ---------------------------------------------------
    "q_mask" -> onCube { c =>
      val m = Cube(
        c.df.where(col(Dim.Band) === "error")
          .withColumn(Cube.ValueCol,
            when(col(Cube.ValueCol) > 100.0, 1.0).otherwise(0.0)),
        c.meta.copy(bandOrder = Seq("error")))
      Filters.mask(c, m, replacement = None).df
    },
    // --- reducers (A1, A2) ---------------------------------------------
    "q_reduce_time_max" -> onCube(c =>
      Reducers.reduceDimension(c, "time", "max").df),
    "q_reduce_time_min" -> onCube(c =>
      Reducers.reduceDimension(c, "time", "min").df),
    "q_reduce_time_count" -> onCube(c =>
      Reducers.reduceDimension(c, "time", "count").df),
    "q_reduce_time_sum" -> onCube(c =>
      Reducers.reduceDimensionExpr(c, "time", dsum(col(Cube.ValueCol))).df),
    "q_reduce_time_mean" -> onCube(c =>
      Reducers.reduceDimensionExpr(c, "time", dmean(col(Cube.ValueCol))).df),
    "q_reduce_time_sd" -> onCube { c =>
      // sd via exact decimal sums + IEEE-identical formula (SURVEY §2.4 A1;
      // stddev_samp itself is order-dependent across engines)
      val v = col(Cube.ValueCol)
      val n = count(v).cast("double")
      val sx = dsum(v)
      val sxx = sum((v.cast("decimal(18,2)") * v.cast("decimal(18,2)")))
        .cast("double")
      val sd = sqrt((sxx - sx * sx / n) / (n - lit(1.0)))
      Reducers.reduceDimensionExpr(c, "time", sd).df
    },
    "q_reduce_band_max" -> onCube(c =>
      Reducers.reduceDimension(c, "bands", "max").df),
    "q_reduce_time_median" -> onCube(c =>
      // exact sort-based percentile (A1) — matches DuckDB quantile_cont
      Reducers.reduceDimension(c, "time", "median").df),
    "q_reduce_time_product" -> onCube(c =>
      // product reducer (A2, custom Aggregator). Values mapped to {1,2} so
      // the double product is a power of two — exact and order-independent
      // under any partial/final merge order, hence hash-comparable.
      Reducers.reduceDimension(
        c.mapValue(v => when(v > 150.0, 2.0).otherwise(1.0)),
        "time", "product").df),
    // --- band math / apply position (M1-M15) ----------------------------
    "q_band_math_nd" -> onCube { c =>
      // normalized_difference over the band axis (M10) via wide pivot;
      // daily max first so the two bands share time labels (raw event
      // timestamps are ns-unique and would never align)
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      val wide = Filters.filterBands(daily, Seq("click", "purchase")).wide
      wide.withColumn("nd",
          (col("click") - col("purchase")) / (col("click") + col("purchase")))
        .where(col("nd").isNotNull)
        .select(col(Dim.Time), col(Dim.Y), col(Dim.X), col("nd"))
    },
    "q_apply_scalars" -> onCube { c =>
      // element-wise chain: linear_scale_range-style clamp + affine (M11/M12)
      val clamped = c.mapValue(v => greatest(lit(50.0), least(lit(250.0), v)))
      clamped.mapValue(v => (v - 50.0) / 200.0 * 100.0).df
    },
    "q_apply_compare" -> onCube(c =>
      // comparison + logical ops (M2, M6): boolean cube as 0/1
      c.mapValue(v =>
        (v > 100.0 && v < 200.0).cast("int").cast("double")).df),
    "q_apply_math" -> onCube(c =>
      // math scalar bundle (M3 log-base, M4 ln, M7 sqrt, M8 power,
      // M9 absolute); round(6) absorbs cross-engine libm ulp differences
      c.mapValue(v => round(
        log(v) / log(lit(10.0)) + log(v) + sqrt(v) +
          pow(v, lit(2.0)) / 10000.0 + abs(v - 100.0), 6)).df),
    // --- temporal aggregation (A4, A7, A8) ------------------------------
    "q_agg_period_day_max" -> onCube(c =>
      Reducers.aggregateTemporalPeriod(c, "day", "max").df),
    "q_agg_period_week_sum" -> onCube { c =>
      val bucketed = c.df.withColumn(Dim.Time,
        Reducers.periodBucket("week", col(Dim.Time)))
      bucketed.groupBy(Dim.Time, Dim.Band, Dim.Y, Dim.X)
        .agg(dsum(col(Cube.ValueCol)).as(Cube.ValueCol))
    },
    "q_agg_period_season_max" -> onCube(c =>
      Reducers.aggregateTemporalPeriod(c, "season", "max").df),
    "q_climatology" -> onCube { c =>
      val others = c.dimsExcept(Dim.Time).map(col)
      c.df.withColumn("month", month(col(Dim.Time)))
        .groupBy(others :+ col("month"): _*)
        .agg(dmean(col(Cube.ValueCol)).as(Cube.ValueCol))
    },
    "q_anomaly" -> onCube { c =>
      val others = c.dimsExcept(Dim.Time).map(col)
      val normals = c.df.withColumn("month", month(col(Dim.Time)))
        .groupBy(others :+ col("month"): _*)
        .agg(dmean(col(Cube.ValueCol)).as(Cube.ValueCol))
      Reducers.anomaly(c, normals).df
    },
    // --- spatial aggregation (A3, A5) -----------------------------------
    "q_agg_spatial_window" -> onCube(c =>
      Reducers.aggregateSpatialWindow(c, sizeX = 2, sizeY = 2, name = "max",
        boundary = "trim").df),
    "q_zonal_stats" -> onCube(c =>
      Reducers.aggregateSpatial(c,
        features = Seq(
          Seq((-0.5, -0.5), (1.5, -0.5), (1.5, 3.5), (-0.5, 3.5)),
          Seq((1.5, -0.5), (3.5, -0.5), (3.5, 3.5), (1.5, 3.5))),
        name = "max")),
    // --- quantiles (A6) --------------------------------------------------
    "q_quantiles" -> onCube(c =>
      Reducers.quantiles(c, "time", q = Some(4)).df),
    // --- label ops (R1, R2) ----------------------------------------------
    "q_rename_labels" -> onCube(c =>
      Labels.renameBandLabels(c, target = Seq("c", "e", "p", "s", "v"),
        source = Seq("click", "error", "purchase", "signup", "view")).df),
    "q_rename_time_labels" -> onCube { c =>
      // R1 time path: positional relabel of the 30 daily time labels
      // (driver-side distinct + broadcast mapping join)
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      Labels.renameTimeLabels(daily, (1 to 30).map(i => f"d$i%02d")).df
    },
    "q_add_dimension" -> onCube { c =>
      val reduced = Reducers.reduceDimension(c, "bands", "max")
      Labels.addDimension(reduced, "all_max").df
    },
    // --- merge / alignment (J1, J2, J3) ----------------------------------
    "q_merge_cubes_union" -> onCube { c =>
      val a = Filters.filterBands(c, Seq("click", "view"))
      val b = Filters.filterBands(c, Seq("purchase"))
      Joins.mergeCubes(a, b).df
    },
    "q_merge_cubes_resolver" -> onCube { c =>
      val a = Filters.filterTemporal(c, "2024-01-01", "2024-01-20")
      val b = Filters.filterTemporal(c, "2024-01-10", "2024-01-31")
        .mapValue(v => v * 2.0)
      Joins.mergeCubes(a, b).df  // overlap → coalesce(cube1, cube2)
    },
    "q_resample_cube_spatial" -> onCube { c =>
      // dedup cell keys first so nearest-pick is unique, then regrid 1m→2m
      val uniq = Cube(
        c.df.groupBy(Dim.Time, Dim.Band, Dim.Y, Dim.X)
          .agg(max(col(Cube.ValueCol)).as(Cube.ValueCol)), c.meta)
      Joins.resampleCubeSpatialNearest(uniq,
        GridRef(0.25, 0.25, 2.0, 2.0)).df
    },
    "q_resample_cube_temporal" -> onCube { c =>
      // nearest as-of time alignment (J2): sparse daily source (every 3rd
      // day) relabeled onto the weekly target axis
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      val src = Cube(daily.df.where(dayofmonth(col(Dim.Time)) % 3 === 0),
        daily.meta)
      val tgt = Reducers.aggregateTemporalPeriod(c, "week", "max")
      Joins.resampleCubeTemporal(src, tgt).df
    },
    "q_resample_spatial" -> onCube { c =>
      // compiler-folded resample_spatial (R4): origin-preserving regrid of
      // the scan grid to resolution 2 with the default nearest method — the
      // same Joins.resampleCubeSpatialNearest call GraphCompiler's fold
      // emits (the fold itself is pinned by GraphCompilerSpec)
      val uniq = Cube(
        c.df.groupBy(Dim.Time, Dim.Band, Dim.Y, Dim.X)
          .agg(max(col(Cube.ValueCol)).as(Cube.ValueCol)), c.meta)
      Joins.resampleCubeSpatialNearest(uniq, GridRef(0.0, 0.0, 2.0, 2.0)).df
    },
    "q_resample_spatial_bilinear" -> onCube { c =>
      // 4-neighbor weighted regrid (J3 bilinear). The 2:1 grid ratio with
      // quarter-cell offsets makes every weight a multiple of 1/16, so the
      // exact-decimal accumulation path is hash-matched by the oracle.
      val uniq = Cube(
        c.df.groupBy(Dim.Time, Dim.Band, Dim.Y, Dim.X)
          .agg(max(col(Cube.ValueCol)).as(Cube.ValueCol)), c.meta)
      Joins.resampleCubeSpatialBilinear(uniq, GridRef(0.25, 0.25, 2.0, 2.0),
        exactScale = Some(16L)).df
    },
    "q_resample_spatial_cubic" -> onCube { c =>
      // 16-neighbor Catmull-Rom regrid (J3 cubic). Same 2:1 quarter-offset
      // grid pair: the per-axis kernel weights at t ∈ {±.25,±.75,±1.25,
      // ±1.75} are multiples of 1/128, so the product scale 16384 makes
      // the decimal accumulation exact and hash-matched.
      val uniq = Cube(
        c.df.groupBy(Dim.Time, Dim.Band, Dim.Y, Dim.X)
          .agg(max(col(Cube.ValueCol)).as(Cube.ValueCol)), c.meta)
      Joins.resampleCubeSpatialCubic(uniq, GridRef(0.25, 0.25, 2.0, 2.0),
        exactScale = Some(16384L)).df
    },
    // --- neighborhood ops (W1, W2) ---------------------------------------
    "q_focal_median" -> onCube { c =>
      // focal 3×3 median (apply_neighborhood with an order-statistic
      // reducer) over the daily-max click slice; the window SHRINKS at
      // borders and interior holes, and output cells are exactly the
      // input cells (self-tap rule — no fabricated values)
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      val click = Filters.filterBands(daily, Seq("click"))
      Neighborhood.focalStats(click, radius = 1, stat = "median").df
    },
    "q_apply_kernel" -> onCube { c =>
      // 3×3 binomial convolution, replicate border. floor() makes values
      // integer-valued and the kernel weights are powers of two, so every
      // scatter product and partial sum is exact — order-independent.
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      val click = Filters.filterBands(daily, Seq("click"))
        .mapValue(v => floor(v).cast("double"))
      Neighborhood.applyKernel(click,
        Seq(Seq(1, 2, 1), Seq(2, 4, 2), Seq(1, 2, 1)),
        border = "replicate").df
    },
    "q_interp_linear" -> onCube { c =>
      // linear gap-fill along x (W2): null out a value range, interpolate
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      val gappy = daily.mapValue(v =>
        when(v >= 100.0 && v <= 300.0, lit(null).cast("double")).otherwise(v))
      Neighborhood.interpolateLinear(gappy, "x").df
    },
    // --- SAR2Cube (F7/D1/D3) ----------------------------------------------
    "q_radar_mask" -> onCube { c =>
      // layover/foreshortening/shadow masks (F7): DEM = daily view max,
      // LIA = constant 40° (so the scene mean is exactly 40.0 both engines)
      val daily = Reducers.aggregateTemporalPeriod(c, "day", "max")
      val dem = Filters.filterBands(daily, Seq("view")).df
        .withColumn(Dim.Band, lit("DEM"))
      val lia = Filters.filterBands(daily, Seq("click")).df
        .withColumn(Dim.Band, lit("LIA"))
        .withColumn(Cube.ValueCol, lit(40.0))
      val cube = Cube(dem.unionByName(lia),
        c.meta.copy(bandOrder = Seq("DEM", "LIA")))
      Sar2Cube.radarMask(cube, foreshorteningTh = 0.4, layoverTh = 1.0,
        orbitDirection = "DSC").df
    },
    "q_geocode" -> onCube { c =>
      // regrid via per-pixel lon/lat data bands → 100 m UTM cells (D1).
      // Full hash oracle: JVM vs libm trig differ by ≤2 ulp on this
      // domain (measured, tools/ experiment r4) but every DERIVED
      // discrete decision — floor(easting/100) cell assignment and the
      // min_by winner (min multi-sample d2 margin 177 m² vs ~1e-8 m²
      // trig noise) — is identical, and the emitted values (data values,
      // cell centers, ordered-fold IDW) are exact in both engines.
      Sar2Cube.geocode(sarCube(c), targetEpsg = 32632, resolution = 100.0).df
    },
    "q_geocode_linear" -> onCube { c =>
      // the Delaunay fidelity tier (hull-masked nearest) over the same
      // SAR fixture. FULL hash oracle since r8: the DuckDB replay
      // recovers the hull's half-plane constraints as supporting pairs
      // (see geocodeLinearSql) — bit-exact at sf0.001/sf0.01. The law
      // battery (== nearest-bin on dense fields, exterior mask, tiling
      // invariance) stays in Sar2CubeSpec as the scale pins.
      Sar2Cube.geocode(sarCube(c), targetEpsg = 32632, resolution = 100.0,
        method = "linear").df
    },
    "q_sar_bbox_lonlat" -> onCube(c =>
      // SAR scan-path bbox over lon/lat DATA bands (D3) — exact comparisons
      Sar2Cube.filterBboxByLonLatBands(sarCube(c), west = 11.0005,
        south = 45.0005, east = 11.0025, north = 45.0305).df),
    // --- curve fitting (A9, A10) ------------------------------------------
    "q_apply_not" -> onCube(c =>
      // M5 logical negation on a comparison cube
      c.df.withColumn("flag", !(col(Cube.ValueCol) > 100.0))
        .drop(Cube.ValueCol)),
    "q_apply_if" -> onCube(c =>
      // M13 `if` as a true branch (when/otherwise) — documented divergence
      // from the reference's NaN-propagating arithmetic encoding
      c.mapValue(v => when(v > 100.0, v * 2).otherwise(v / 2)).df),
    "q_scan_adjust" -> ((s, dir) => {
      // S2 scan-time nodata→null + value*scale+offset, through the real
      // Scan.loadCollection path over a DATE-PARTITIONED store rendition
      // (exercises writeCubeStore partition discovery + p_date handling
      // inside the correctness gate)
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_adj_$slug"
      graft.ops.Sinks.writeCubeStore(eventsCube(s, dir), tmp)
      Scan.loadCollection(s, Scan.CollectionSpec(tmp,
        bandOrder = Seq("click", "error", "purchase", "signup", "view"),
        grid = Some(GridRef(0, 0, 1, 1)),
        adjust = Map("click" ->
          Scan.BandAdjust(nodata = Some(50.0), scale = 0.01, offset = 10.0)))).df
    }),
    "q_run_udf" -> onCube { c =>
      // run_udf execution slot: element-wise R source compiled to a
      // Column expression (compile.UdfCompiler) — stays in codegen
      c.mapValue(v => graft.compile.UdfCompiler.compile(
        "function(x, context) { sqrt(x) * 2 + 1 }", v)).df
    },
    "q_run_udf_dimension" -> onCube { c =>
      // apply_dimension-position run_udf (series→series): running max
      // along time per pixel minus the current value. cummax uses a RANGE
      // frame, so duplicate time labels aggregate together and the result
      // is deterministic — comparison-only arithmetic keeps it hash-exact.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(Dim.Band), col(Dim.Y), col(Dim.X))
        .orderBy(col(Dim.Time))
      c.mapValue(v => graft.compile.UdfCompiler.compileSeries(
        "function(x, context) { cummax(x) - x }", v, w)).df
    },
    "q_run_udf_external" -> ((s, dir) => {
      // the external-UDF escape hatch END-TO-END through the openEO graph
      // surface: run_udf with `runtime: "java"` carries OPAQUE Java
      // source (an EMA — a per-series recurrence the expression grammar
      // cannot express), compiled per executor JVM by janino and run per
      // (band, y, x) series through the chunked shuffle seam with
      // context.chunk_size honored (the reference's joblib chunk slot,
      // openeo_odc_driver.py:282-339). α = 0.25 is exactly representable
      // in binary, so the Java loop and the DuckDB list_reduce replay
      // produce bit-identical doubles.
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_extudf_$slug"
      eventsCube(s, dir).df.write.mode("overwrite").parquet(tmp)
      val catalog = Map("events" -> Scan.CollectionSpec(tmp,
        bandOrder = Seq("click", "error", "purchase", "signup", "view"),
        grid = Some(graft.cube.GridRef(0, 0, 1, 1))))
      val udfSrc = "double[] out = new double[values.length]; " +
        "double ema = 0.0; " +
        "for (int i = 0; i < values.length; i++) { " +
        "ema = (i == 0) ? values[i] : 0.25 * values[i] + 0.75 * ema; " +
        "out[i] = ema; } return out;"
      val graph = s"""{
        "load": {"process_id": "load_collection",
                 "arguments": {"id": "events"}},
        "udf": {"process_id": "apply_dimension", "arguments": {
          "data": {"from_node": "load"}, "dimension": "t",
          "process": {"process_graph": {
            "u": {"process_id": "run_udf", "arguments": {
              "data": {"from_parameter": "data"},
              "udf": "$udfSrc",
              "runtime": "java",
              "context": {"chunk_size": 8}},
              "result": true}}}}, "result": true}}"""
      new GraphCompiler(s, catalog, tmp + "_res").compile(graph)
        .asInstanceOf[graft.cube.Cube].df
    }),
    "q_run_udf_python" -> ((s, dir) => {
      // run_udf with `runtime: "python"` END-TO-END: opaque Python source
      // (a peak-hold decay — out[i] = max(x[i], 0.5·out[i-1]), a
      // per-series recurrence the expression grammar cannot express)
      // executed by a piped python3 worker per executor thread through
      // the SAME chunked seam as the Java tier (graft.ops.PythonUdf).
      // 0.5 is exact binary and max is comparison-only, so the worker's
      // fold and the DuckDB list_reduce replay agree bit-for-bit across
      // the decimal-string pipe (shortest-round-trip both ways).
      import graft.compile.GraphCompiler
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_pyudf_$slug"
      eventsCube(s, dir).df.write.mode("overwrite").parquet(tmp)
      val catalog = Map("events" -> Scan.CollectionSpec(tmp,
        bandOrder = Seq("click", "error", "purchase", "signup", "view"),
        grid = Some(graft.cube.GridRef(0, 0, 1, 1))))
      val udfSrc = "def udf(times, values):\\n" +
        "    out = []\\n" +
        "    acc = 0.0\\n" +
        "    for i, v in enumerate(values):\\n" +
        "        acc = v if i == 0 else max(v, 0.5 * acc)\\n" +
        "        out.append(acc)\\n" +
        "    return out\\n"
      val graph = s"""{
        "load": {"process_id": "load_collection",
                 "arguments": {"id": "events"}},
        "udf": {"process_id": "apply_dimension", "arguments": {
          "data": {"from_node": "load"}, "dimension": "t",
          "process": {"process_graph": {
            "u": {"process_id": "run_udf", "arguments": {
              "data": {"from_parameter": "data"},
              "udf": "$udfSrc",
              "runtime": "python",
              "context": {"chunk_size": 8}},
              "result": true}}}}, "result": true}}"""
      new GraphCompiler(s, catalog, tmp + "_res").compile(graph)
        .asInstanceOf[graft.cube.Cube].df
    }),
    "q_run_udf_reduce" -> onCube { c =>
      // reduce_dimension-position run_udf (series→scalar): the UDF source
      // compiles to ONE aggregate expression — partial+final groupBy, no
      // R bridge. Selection-based aggregates (quantile/min) keep the
      // result hash-exact across engines (sum/mean would be order-
      // dependent in doubles).
      Reducers.reduceDimensionExpr(c, "time",
        graft.compile.UdfCompiler.compileReduce(
          "function(x, context) { quantile(x, 0.9) - min(x) }",
          col(Cube.ValueCol)).cast("double")).df
    },
    "q_fit_curve" -> onCube { c =>
      // closed-form linear least squares with exact decimal sums so the
      // DuckDB oracle hash-matches bit-for-bit; the LM optimizer path
      // (CurveFit.fitCurve) is pinned equal to this closed form in
      // FunctionsSpec. Zero-mask + <12-sample → zero params like the
      // reference (openeo_odc_driver.py:1532-1543).
      val tx = unix_timestamp(col(Dim.Time)) // floor seconds, long
      val v = col(Cube.ValueCol)
      val m = v =!= 0.0 && !isnan(v)
      // 2-decimal values ×100 → all four sums are exact INTEGERS. The
      // per-row products stay in LONG arithmetic (tx² ≤ 3.3e18 and
      // tx·v100 ≤ ~2e15 both fit; exact for epochs through 2066). The
      // SUMS of those products overflow 64 bits, but instead of paying a
      // per-row decimal(38) BigDecimal accumulation (the round-2 6× bench
      // hit), each product is split into two long lanes by 2^30
      // (arithmetic shift + mask — exact for negatives too) summed as
      // plain codegen'd longs, and recombined in decimal once per GROUP.
      // The recombined integers are identical, and decimal→double /
      // long→double casts are correctly rounded, so the final doubles —
      // and the oracle hash — are unchanged. (The oracle reproduces the
      // rounding with a hi/lo split cast; DuckDB's native wide-decimal→
      // double cast can be off by one ulp.) Lane-sum bounds: hi ≤ 3.1e9,
      // lo < 2^30 per row — overflow needs > ~10^9 samples per pixel
      // series, and ANSI mode would fail loudly there.
      val v100 = (v.cast("decimal(18,2)") * 100).cast("long")
      val pXX = tx * tx
      val pXY = tx * v100
      def laneHi(p: Column): Column = shiftright(p, 30)
      def laneLo(p: Column): Column = p.bitwiseAND(lit((1L << 30) - 1))
      def recombine(h: Column, l: Column): Column =
        (h.cast("decimal(38,0)") * lit(1L << 30) + l).cast("double")
      val agg = c.df.groupBy(Dim.Band, Dim.Y, Dim.X).agg(
        count(when(m, lit(1))).cast("double").as("_n"),
        sum(when(m, tx)).cast("double").as("_sx"),
        (sum(when(m, v100)).cast("double") / 100.0).as("_sy"),
        sum(when(m, laneHi(pXY))).as("_sxy_hi"),
        sum(when(m, laneLo(pXY))).as("_sxy_lo"),
        sum(when(m, laneHi(pXX))).as("_sxx_hi"),
        sum(when(m, laneLo(pXX))).as("_sxx_lo"))
        .withColumn("_sxy",
          recombine(col("_sxy_hi"), col("_sxy_lo")) / 100.0)
        .withColumn("_sxx", recombine(col("_sxx_hi"), col("_sxx_lo")))
      val denom = col("_n") * col("_sxx") - col("_sx") * col("_sx")
      val degenerate = col("_n") < 12 || denom === 0.0
      val a1 = when(degenerate, 0.0)
        .otherwise((col("_n") * col("_sxy") - col("_sx") * col("_sy")) / denom)
      val a0 = when(degenerate, 0.0)
        .otherwise((col("_sy") - a1 * col("_sx")) / col("_n"))
      agg.select(col(Dim.Band), col(Dim.Y), col(Dim.X),
        a0.as("a0"), a1.as("a1"))
    },
    "q_predict_curve" -> onCube { c =>
      // model evaluation path with deterministic params (a0 = exact decimal
      // mean, a1 = 1e-6): a0 + a1·unix_seconds, oracle-matched
      val params = c.df.groupBy(Dim.Band, Dim.Y, Dim.X)
        .agg(array(dmean(col(Cube.ValueCol)), lit(1e-6)).as("params"))
      CurveFit.predictCurve(c, params, CurveFit.linear).df
    },
    // --- result store (S4) -------------------------------------------------
    "q_load_result" -> ((s, dir) => {
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_results_$slug"
      val daily = Reducers.aggregateTemporalPeriod(eventsCube(s, dir), "day", "max")
      daily.df.write.mode("overwrite").parquet(s"$base/job1")
      Scan.loadResult(s, base, "job1").df
    }),
    "q_load_result_netcdf" -> ((s, dir) => {
      // write → read BYTE fidelity of the NetCDF sink, end-to-end: the
      // daily-max cube leaves through our own CDF-1 writer
      // (Sinks.writeNetcdf) and re-enters through the independent CDF-1
      // parser (Scan.loadResultNetcdf) — the reference's job-chaining
      // loop (openeo_odc_driver.py:1598-1609). The oracle replays the
      // store projection with the writer's value quantization (float32),
      // so every surviving cell is hash-verified through the binary
      // format, not just counted.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val nc = s"${System.getProperty("java.io.tmpdir")}/graft_lrnc_$slug.nc"
      val daily = Reducers.aggregateTemporalPeriod(eventsCube(s, dir), "day", "max")
      graft.ops.Sinks.writeNetcdf(daily, nc)
      Scan.loadResultNetcdf(s, nc).df
    }),
    "q_sink_png" -> ((s, dir) => {
      // S5 PNG sink hash-verified END-TO-END: the time-reduced cube
      // leaves through writePng (red/green/blue band options, per-band
      // linear stretch to 0..255 — openeo_odc_driver.py:1616-1677) and
      // the file's actual pixel plane re-enters through PngCodec's
      // independent decoder (inflate + unfilter). The oracle replays the
      // stretch arithmetic per channel, so every byte in the image is
      // checked, not just its existence.
      val reduced = Reducers.reduceDimension(eventsCube(s, dir), Dim.Time, "max")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_png_$slug.png"
      val opts = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"red":"click","green":"view","blue":"purchase"}""")
      graft.ops.Sinks.writePng(reduced, path, Some(opts))
      val dec = graft.multimodal.Multimodal.PngCodec.decode(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      require(dec.channels == 3, s"PNG decoded ${dec.channels} channels")
      import s.implicits._
      (for { row <- 0 until dec.height; colI <- 0 until dec.width } yield {
        val o = (row * dec.width + colI) * 3
        (row, colI, dec.pixels(o) & 0xff, dec.pixels(o + 1) & 0xff,
          dec.pixels(o + 2) & 0xff)
      }).toDF("row", "col", "r", "g", "b")
    }),
    "q_sink_gtiff" -> ((s, dir) => {
      // S6 GTiff sink hash-verified END-TO-END: float32 band-sequential
      // planes + GDAL metadata leave through writeGTiff
      // (openeo_odc_driver.py:1679-1724) and re-enter through the
      // independent readGTiff TIFF parser; NaN cells (grid positions
      // with no data) are dropped on read-back, so the surviving rows
      // are exactly the reduced cube quantized to float32 — which IS
      // the oracle.
      val reduced = Reducers.reduceDimension(eventsCube(s, dir), Dim.Time, "max")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gt_$slug.tif"
      graft.ops.Sinks.writeGTiff(reduced, path)
      val (names, planes) = graft.ops.Sinks.readGTiff(path)
      import s.implicits._
      (for {
        b <- planes.indices; row <- planes(b).indices
        colI <- planes(b)(row).indices
        v = planes(b)(row)(colI) if !v.isNaN
      } yield (names(b), row, colI, v)).toDF("band", "row", "col", "value")
    }),
    "q_scan_tiled" -> ((s, dir) => {
      // the 100 TB layout contract's SECOND axis, end-to-end: the store
      // written with spatial tiles (p_tx/p_ty from the grid, 64 cells —
      // directory counts stay tame at any SF; the pruning-count pin
      // lives in PlanQualitySpec on its own denser fixture),
      // then a bbox load that PRUNES tile directories (marker-guarded,
      // ±1-tile widened — PlanQualitySpec pins the pruned partition
      // count) while the exact x/y predicate stays authoritative. The
      // oracle is the plain bbox projection — pruning must be invisible
      // to results.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_tiled_$slug"
      graft.ops.Sinks.writeCubeStore(eventsCube(s, dir), tmp,
        tileCells = Some(64))
      Scan.loadCollection(s, Scan.CollectionSpec(tmp,
          bandOrder = Seq("click", "error", "purchase", "signup", "view"),
          grid = Some(GridRef(0, 0, 1, 1))),
        bbox = Some((0.5, 4.5, 2.5, 20.5)), extentCrs = graft.ops.EpsgRef(0)).df
    }),
    "q_aggregate_temporal" -> ((s, dir) => {
      // openEO-core aggregate_temporal over arbitrary OVERLAPPING
      // intervals (Jan 10-15 belongs to both) — rows in k intervals
      // contribute to k groups via the literal-array filter+explode
      // (never a join, never |intervals|× amplification); labels are
      // the interval starts. MAX is selection-based, so the DuckDB
      // inequality-join replay hash-matches bit-for-bit.
      Reducers.aggregateTemporal(eventsCube(s, dir), Seq(
        ("2024-01-01", "2024-01-15"),
        ("2024-01-10", "2024-02-01"),
        ("2024-02-01", "2024-03-01")), "max").df
    }),
    "q_netcdf_source" -> ((s, dir) => {
      // the DataSource V2 read path (format("graft-netcdf")): the same
      // CDF-1 bytes q_load_result_netcdf parses on the driver, read as a
      // FIRST-CLASS source — one input partition per (time, band) plane,
      // the band filter pruning partitions at planning time
      // (NetcdfSourceSpec pins the counts), columns pruned to the scan.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val nc = s"${System.getProperty("java.io.tmpdir")}/graft_dsv2_$slug.nc"
      val daily = Reducers.aggregateTemporalPeriod(eventsCube(s, dir), "day", "max")
      graft.ops.Sinks.writeNetcdf(daily, nc)
      s.read.format("graft-netcdf").load(nc)
        .where(col("band").isin("click", "view"))
        .select("time", "band", "y", "x", "value")
    }),
    "q_sink_json" -> ((s, dir) => {
      // S8 JSON sink hash-verified END-TO-END: the daily-max cube leaves
      // through writeJsonCube's xarray-.to_dict() shape (dims / coords /
      // nested data with nulls for absent cells —
      // openeo_odc_driver.py:1783-1827) and is parsed BACK from the
      // file: labels re-typed, null cells dropped. Jackson serializes
      // doubles shortest-roundtrip, so the recovered values are
      // bit-identical and the store projection IS the oracle.
      val daily = Reducers.aggregateTemporalPeriod(eventsCube(s, dir), "day", "max")
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_json_$slug.json"
      graft.ops.Sinks.writeJsonCube(daily, path)
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      val dims = (0 until root.get("dims").size())
        .map(root.get("dims").get(_).asText())
      val labels = dims.map(d => {
        val arr = root.get("coords").get(d).get("data")
        (0 until arr.size()).map(arr.get(_).asText())
      })
      require(dims == Seq(Dim.Band, Dim.Time, Dim.Y, Dim.X),
        s"unexpected dims $dims")
      val rows = for {
        bi <- labels(0).indices; ti <- labels(1).indices
        yi <- labels(2).indices; xi <- labels(3).indices
        node = root.get("data").get(bi).get(ti).get(yi).get(xi)
        if !node.isNull
      } yield (java.sql.Timestamp.valueOf(labels(1)(ti)), labels(0)(bi),
        labels(2)(yi).toDouble, labels(3)(xi).toDouble, node.asDouble())
      import s.implicits._
      rows.toDF(Dim.Time, Dim.Band, Dim.Y, Dim.X, Cube.ValueCol)
    }),
    "q_stac_describe" -> ((s, dir) => {
      // S9 STAC catalog hash-verified: the /collections/<id> description
      // is synthesized from the STORE (extent aggregates, band list,
      // per-band eo:bands summaries from the registered adjusts —
      // odc_backend.py:184-309) — here the same JSON the HTTP handler
      // serves is built via Catalog.describeJson, parsed back, and its
      // data-derived fields re-emitted per band for the SQL oracle to
      // recompute from the same parquet.
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stac_$slug"
      eventsCube(s, dir).df.write.mode("overwrite").parquet(tmp)
      val spec = Scan.CollectionSpec(tmp, crs = Some("EPSG:32632"),
        bandOrder = Seq("click", "error", "purchase", "signup", "view"),
        grid = Some(graft.cube.GridRef(0, 0, 1, 1)),
        adjust = Map("click" ->
          Scan.BandAdjust(nodata = Some(50.0), scale = 0.01, offset = 10.0)))
      val catalog = new graft.api.Catalog(Map("events" -> spec))
      val json = catalog.describeJson(s, "events").get
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val cd = root.get("cube:dimensions")
      val t = cd.get("DATE").get("extent")
      val xs = cd.get("X").get("extent"); val ys = cd.get("Y").get("extent")
      val bands = cd.get("bands").get("values")
      val eoBands = root.get("summaries").get("eo:bands")
      import s.implicits._
      (0 until bands.size()).map { i =>
        val b = eoBands.get(i)
        (root.get("id").asText(), bands.get(i).asText(),
          java.sql.Timestamp.valueOf(t.get(0).asText()),
          java.sql.Timestamp.valueOf(t.get(1).asText()),
          xs.get(0).asDouble(), xs.get(1).asDouble(),
          ys.get(0).asDouble(), ys.get(1).asDouble(),
          b.get("scale").asDouble(), b.get("offset").asDouble(),
          if (b.has("nodata")) Some(b.get("nodata").asDouble()) else None)
      }.toDF("id", "band", "t0", "t1", "x0", "x1", "y0", "y1",
        "scale", "offset", "nodata")
    }),
    // --- relational spine (classic agg/join over lineitem, judge smoke) --
    "q1_agg" -> ((s, dir) => {
      val l = Tables.read(s, s"$dir/lineitem.parquet")
      l.groupBy("l_returnflag")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
    }),
    // --- process-graph compiler end-to-end (§3.1 query path) -------------
    "q_graph_pipeline" -> ((s, dir) => {
      // events cube → parquet collection → openEO graph (scan with band
      // projection + exclusive-end temporal extent, then daily max)
      import graft.compile.GraphCompiler
      import graft.ops.Scan
      val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_coll_$slug"
      eventsCube(s, dir).df.write.mode("overwrite").parquet(tmp)
      val catalog = Map("events" -> Scan.CollectionSpec(tmp,
        bandOrder = Seq("click", "error", "purchase", "signup", "view"),
        grid = Some(graft.cube.GridRef(0, 0, 1, 1))))
      val graph = """{
        "load": {"process_id": "load_collection", "arguments": {
          "id": "events", "bands": ["click", "view"],
          "temporal_extent": ["2024-01-05", "2024-01-25"]}},
        "agg": {"process_id": "aggregate_temporal_period", "arguments": {
          "data": {"from_node": "load"}, "period": "day",
          "reducer": {"process_graph": {
            "m": {"process_id": "max",
                  "arguments": {"data": {"from_parameter": "data"}},
                  "result": true}}}}, "result": true}}"""
      new GraphCompiler(s, catalog, tmp + "_res").compile(graph)
        .asInstanceOf[graft.cube.Cube].df
    }),
  )

  def sql: Map[String, String] = Map(
    "q_load_collection" -> cq(
      """SELECT * FROM cube WHERE band IN ('click','view')
         AND time >= TIMESTAMP '2024-01-05' AND time <= TIMESTAMP '2024-01-25'"""),
    "q_filter_temporal" -> cq(
      """SELECT * FROM cube
         WHERE time >= TIMESTAMP '2024-01-10' AND time <= TIMESTAMP '2024-01-20'"""),
    "q_filter_bands" -> cq(
      "SELECT * FROM cube WHERE band IN ('click','purchase')"),
    "q_filter_bbox" -> cq(
      "SELECT * FROM cube WHERE x BETWEEN 1.0 AND 2.0 AND y BETWEEN 0.0 AND 2.0"),
    "q_array_element" -> cq(
      "SELECT time, y, x, value FROM cube WHERE band = 'purchase'"),
    "q_filter_spatial" ->
      // same triangle, same even-odd ray casting: y-straddle + x < x-at-y,
      // bbox prefilter mirrors Filters.filterSpatialRef
      cq("""SELECT * FROM cube
            WHERE x BETWEEN 0.5 AND 3.5 AND y BETWEEN -0.5 AND 2.5
            AND (( (CASE WHEN ((-0.5 > y) != (-0.5 > y)) THEN 0 ELSE 0 END)
                 + (CASE WHEN ((-0.5 > y) != (2.5 > y)) AND x < 3.5 + (y - (-0.5)) * 0.0 THEN 1 ELSE 0 END)
                 + (CASE WHEN ((2.5 > y) != (-0.5 > y)) AND x < 3.5 + (y - 2.5) * 1.0 THEN 1 ELSE 0 END)
                 ) % 2) = 1"""),
    "q_mask" -> cq(
      """SELECT c.time, c.band, c.y, c.x,
           CASE WHEN m.mv IS NOT NULL AND m.mv <> 0.0 THEN NULL ELSE c.value END AS value
         FROM cube c LEFT JOIN (
           SELECT time, y, x, MIN(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END) AS mv
           FROM cube WHERE band = 'error' GROUP BY 1, 2, 3) m
         USING (time, y, x)"""),
    "q_reduce_time_max" -> cq(
      "SELECT band, y, x, MAX(value) AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_min" -> cq(
      "SELECT band, y, x, MIN(value) AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_count" -> cq(
      "SELECT band, y, x, COUNT(value) AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_sum" -> cq(
      s"SELECT band, y, x, ${dsumSql("value")} AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_mean" -> cq(
      s"SELECT band, y, x, ${dmeanSql("value")} AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_sd" -> cq(
      s"""SELECT band, y, x,
           sqrt((CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 - ${dsumSql("value")} * ${dsumSql("value")} / CAST(COUNT(value) AS DOUBLE))
                / (CAST(COUNT(value) AS DOUBLE) - 1.0)) AS value
         FROM cube GROUP BY 1, 2, 3"""),
    "q_reduce_band_max" -> cq(
      "SELECT time, y, x, MAX(value) AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_median" -> cq(
      "SELECT band, y, x, quantile_cont(value, 0.5) AS value FROM cube GROUP BY 1, 2, 3"),
    "q_reduce_time_product" -> cq(
      """SELECT band, y, x,
           product(CASE WHEN value > 150.0 THEN 2.0 ELSE 1.0 END) AS value
         FROM cube GROUP BY 1, 2, 3"""),
    "q_apply_math" -> cq(
      """SELECT time, band, y, x,
           round(ln(value) / ln(10.0) + ln(value) + sqrt(value)
                 + pow(value, 2.0) / 10000.0 + abs(value - 100.0), 6) AS value
         FROM cube"""),
    "q_band_math_nd" -> cq(
      """SELECT time, y, x, (click - purchase) / (click + purchase) AS nd
         FROM (SELECT time, y, x,
                 MIN(CASE WHEN band = 'click' THEN value END) AS click,
                 MIN(CASE WHEN band = 'purchase' THEN value END) AS purchase
               FROM (SELECT date_trunc('day', time) AS time, band, y, x,
                       MAX(value) AS value
                     FROM cube WHERE band IN ('click','purchase')
                     GROUP BY 1, 2, 3, 4)
               GROUP BY 1, 2, 3)
         WHERE (click - purchase) / (click + purchase) IS NOT NULL"""),
    "q_apply_scalars" -> cq(
      """SELECT time, band, y, x,
           (GREATEST(50.0, LEAST(250.0, value)) - 50.0) / 200.0 * 100.0 AS value
         FROM cube"""),
    "q_apply_compare" -> cq(
      """SELECT time, band, y, x,
           CAST(CAST(value > 100.0 AND value < 200.0 AS INT) AS DOUBLE) AS value
         FROM cube"""),
    "q_agg_period_day_max" -> cq(
      """SELECT date_trunc('day', time) AS time, band, y, x, MAX(value) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_agg_period_week_sum" -> cq(
      s"""SELECT date_trunc('week', time) AS time, band, y, x,
           ${dsumSql("value")} AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_agg_period_season_max" -> cq(
      """SELECT date_trunc('quarter', time + INTERVAL 1 MONTH) - INTERVAL 1 MONTH AS time,
           band, y, x, MAX(value) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_climatology" -> cq(
      s"""SELECT band, y, x, CAST(month(time) AS INT) AS month,
           ${dmeanSql("value")} AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_anomaly" -> cq(
      s"""SELECT c.time, c.band, c.y, c.x, c.value - n.normal AS value
         FROM cube c JOIN (
           SELECT band, y, x, CAST(month(time) AS INT) AS month,
             ${dmeanSql("value")} AS normal
           FROM cube GROUP BY 1, 2, 3, 4) n
         ON month(c.time) = n.month AND c.band = n.band
            AND c.y = n.y AND c.x = n.x"""),
    "q_agg_spatial_window" -> cq(
      """SELECT time, band, MAX(value) AS value,
           CAST(FLOOR(x / 2) * 2 AS DOUBLE) AS x,
           CAST(FLOOR(y / 2) * 2 AS DOUBLE) AS y
         FROM cube
         WHERE (FLOOR(x / 2) + 1) * 2 - 1 <= (SELECT MAX(x) FROM cube)
           AND (FLOOR(y / 2) + 1) * 2 - 1 <= (SELECT MAX(y) FROM cube)
         GROUP BY time, band, FLOOR(x / 2), FLOOR(y / 2)"""),
    "q_zonal_stats" -> cq(
      """SELECT time, band, CASE WHEN x <= 1.5 THEN 0 ELSE 1 END AS result,
           MAX(value) AS value
         FROM cube WHERE x BETWEEN -0.5 AND 3.5 AND y BETWEEN -0.5 AND 3.5
         GROUP BY 1, 2, 3"""),
    "q_quantiles" -> cq(
      """SELECT band, y, x, 0 AS quantile_idx, quantile_cont(value, 0.25) AS value
         FROM cube GROUP BY 1, 2, 3
         UNION ALL
         SELECT band, y, x, 1, quantile_cont(value, 0.5) FROM cube GROUP BY 1, 2, 3
         UNION ALL
         SELECT band, y, x, 2, quantile_cont(value, 0.75) FROM cube GROUP BY 1, 2, 3"""),
    "q_rename_labels" -> cq(
      """SELECT time,
           CASE band WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
                     WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                     WHEN 'view' THEN 'v' ELSE band END AS band,
           y, x, value FROM cube"""),
    "q_rename_time_labels" -> cq(
      """, d AS (SELECT date_trunc('day', time) AS t, band, y, x,
             MAX(value) AS value
           FROM cube GROUP BY 1, 2, 3, 4),
         r AS (SELECT t, 'd' || lpad(CAST(
                 dense_rank() OVER (ORDER BY t) AS VARCHAR), 2, '0') AS nt
               FROM (SELECT DISTINCT t FROM d))
         SELECT d.band, d.y, d.x, d.value, r.nt AS time
         FROM d JOIN r USING (t)"""),
    "q_add_dimension" -> cq(
      """SELECT time, y, x, MAX(value) AS value, 'all_max' AS band
         FROM cube GROUP BY 1, 2, 3"""),
    "q_merge_cubes_union" -> cq(
      "SELECT * FROM cube WHERE band IN ('click','view','purchase')"),
    "q_merge_cubes_resolver" -> cq(
      """SELECT COALESCE(a.time, b.time) AS time, COALESCE(a.band, b.band) AS band,
           COALESCE(a.y, b.y) AS y, COALESCE(a.x, b.x) AS x,
           COALESCE(a.value, b.value) AS value
         FROM (SELECT * FROM cube
               WHERE time >= TIMESTAMP '2024-01-01' AND time <= TIMESTAMP '2024-01-20') a
         FULL OUTER JOIN
              (SELECT time, band, y, x, value * 2.0 AS value FROM cube
               WHERE time >= TIMESTAMP '2024-01-10' AND time <= TIMESTAMP '2024-01-31') b
         ON a.time = b.time AND a.band = b.band AND a.y = b.y AND a.x = b.x"""),
    "q_resample_cube_spatial" -> (cubeCte.stripSuffix(")") + "), " +
      """uniq AS (
           SELECT time, band, y, x, MAX(value) AS value
           FROM cube GROUP BY 1, 2, 3, 4),
         binned AS (
           SELECT time, band, value, y, x,
             CAST(round((x - 0.25) / 2.0, 0) AS BIGINT) AS tx,
             CAST(round((y - 0.25) / 2.0, 0) AS BIGINT) AS ty,
             (x - (0.25 + CAST(round((x - 0.25) / 2.0, 0) AS BIGINT) * 2.0))
               * (x - (0.25 + CAST(round((x - 0.25) / 2.0, 0) AS BIGINT) * 2.0))
             + (y - (0.25 + CAST(round((y - 0.25) / 2.0, 0) AS BIGINT) * 2.0))
               * (y - (0.25 + CAST(round((y - 0.25) / 2.0, 0) AS BIGINT) * 2.0)) AS d2
           FROM uniq)
         SELECT time, band, value, xx AS x, yy AS y FROM (
           SELECT time, band, value,
             0.25 + tx * 2.0 AS xx, 0.25 + ty * 2.0 AS yy,
             row_number() OVER (PARTITION BY time, band, tx, ty
                                ORDER BY d2, y, x) AS rn
           FROM binned) WHERE rn = 1"""),
    "q_resample_spatial" -> (cubeCte.stripSuffix(")") + "), " +
      """uniq AS (
           SELECT time, band, y, x, MAX(value) AS value
           FROM cube GROUP BY 1, 2, 3, 4),
         binned AS (
           SELECT time, band, value, y, x,
             CAST(round(x / 2.0, 0) AS BIGINT) AS tx,
             CAST(round(y / 2.0, 0) AS BIGINT) AS ty,
             (x - CAST(round(x / 2.0, 0) AS BIGINT) * 2.0)
               * (x - CAST(round(x / 2.0, 0) AS BIGINT) * 2.0)
             + (y - CAST(round(y / 2.0, 0) AS BIGINT) * 2.0)
               * (y - CAST(round(y / 2.0, 0) AS BIGINT) * 2.0) AS d2
           FROM uniq)
         SELECT time, band, value, xx AS x, yy AS y FROM (
           SELECT time, band, value,
             CAST(tx * 2.0 AS DOUBLE) AS xx, CAST(ty * 2.0 AS DOUBLE) AS yy,
             row_number() OVER (PARTITION BY time, band, tx, ty
                                ORDER BY d2, y, x) AS rn
           FROM binned) WHERE rn = 1"""),
    "q_resample_spatial_bilinear" -> cq(
      // mirrors the scatter construction of resampleCubeSpatialBilinear:
      // candidate target cells txLo..txLo+2 per source cell, bilinear
      // weights, exact-decimal accumulation (weights are multiples of 1/16
      // for this grid pair, so w·16 is an exact integer on both engines)
      """, uniq AS (
           SELECT time, band, y, x, MAX(value) AS value
           FROM cube GROUP BY 1, 2, 3, 4),
         cand AS (
           SELECT time, band, value, y, x,
             CAST(floor((x - 1.0 - 0.25) / 2.0) AS BIGINT) + kx.k AS tx,
             CAST(floor((y - 1.0 - 0.25) / 2.0) AS BIGINT) + ky.k AS ty
           FROM uniq, (VALUES (0), (1), (2)) kx(k),
                      (VALUES (0), (1), (2)) ky(k)),
         w AS (
           SELECT time, band, value, tx, ty,
             greatest(0.0, 1.0 - abs(((0.25 + CAST(tx AS DOUBLE) * 2.0) - x) / 1.0))
             * greatest(0.0, 1.0 - abs(((0.25 + CAST(ty AS DOUBLE) * 2.0) - y) / 1.0))
               AS wgt
           FROM cand)
         SELECT time, band,
           CAST(SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(wgt * 16.0 AS DECIMAL(10,0))) AS DOUBLE)
           / CAST(SUM(CASE WHEN value IS NOT NULL
                      THEN CAST(wgt * 16.0 AS DECIMAL(10,0)) END) AS DOUBLE)
             AS value,
           0.25 + CAST(tx AS DOUBLE) * 2.0 AS x,
           0.25 + CAST(ty AS DOUBLE) * 2.0 AS y
         FROM w WHERE wgt > 0 GROUP BY time, band, tx, ty"""),
    "q_resample_spatial_cubic" -> cq(
      // mirrors resampleCubeSpatialCubic's scatter + the EXACT Horner
      // order of the Catmull-Rom kernel, so the double weights agree
      // bit-for-bit; weight·16384 is an exact integer for this grid pair
      """, uniq AS (
           SELECT time, band, y, x, MAX(value) AS value
           FROM cube GROUP BY 1, 2, 3, 4),
         cand AS (
           SELECT time, band, value, y, x,
             CAST(floor((x - 2.0 - 0.25) / 2.0) AS BIGINT) + kx.k AS tx,
             CAST(floor((y - 2.0 - 0.25) / 2.0) AS BIGINT) + ky.k AS ty
           FROM uniq, (VALUES (0), (1), (2), (3)) kx(k),
                      (VALUES (0), (1), (2), (3)) ky(k)),
         f AS (
           SELECT time, band, value, tx, ty,
             abs(((0.25 + CAST(tx AS DOUBLE) * 2.0) - x) / 1.0) AS ax,
             abs(((0.25 + CAST(ty AS DOUBLE) * 2.0) - y) / 1.0) AS ay
           FROM cand),
         w AS (
           SELECT time, band, value, tx, ty,
             (CASE WHEN ax <= 1.0 THEN (1.5 * ax - 2.5) * ax * ax + 1.0
                   WHEN ax < 2.0 THEN ((-0.5 * ax + 2.5) * ax - 4.0) * ax + 2.0
                   ELSE 0.0 END)
             * (CASE WHEN ay <= 1.0 THEN (1.5 * ay - 2.5) * ay * ay + 1.0
                     WHEN ay < 2.0 THEN ((-0.5 * ay + 2.5) * ay - 4.0) * ay + 2.0
                     ELSE 0.0 END) AS wgt,
             ax, ay
           FROM f),
         agg AS (
           SELECT time, band, tx, ty,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(wgt * 16384.0 AS DECIMAL(12,0))) AS DOUBLE)
             / nullif(CAST(SUM(CASE WHEN value IS NOT NULL
                        THEN CAST(wgt * 16384.0 AS DECIMAL(12,0)) END)
                      AS DOUBLE), 0.0) AS value
           FROM w WHERE ax < 2.0 AND ay < 2.0
           GROUP BY time, band, tx, ty)
         SELECT time, band, value,
           0.25 + CAST(tx AS DOUBLE) * 2.0 AS x,
           0.25 + CAST(ty AS DOUBLE) * 2.0 AS y
         FROM agg WHERE value IS NOT NULL"""),
    "q_resample_cube_temporal" -> cq(
      """SELECT m.tt AS time, src.band, src.y, src.x, src.value
         FROM (SELECT date_trunc('day', time) AS t, band, y, x,
                 MAX(value) AS value
               FROM cube WHERE day(time) % 3 = 0 GROUP BY 1, 2, 3, 4) src
         JOIN (SELECT tgt.t AS tt, st.t AS ts2,
                 row_number() OVER (PARTITION BY tgt.t
                   ORDER BY abs(epoch_us(tgt.t) - epoch_us(st.t)), st.t) AS rn
               FROM (SELECT DISTINCT date_trunc('week', time) AS t FROM cube) tgt
               CROSS JOIN (SELECT DISTINCT date_trunc('day', time) AS t
                           FROM cube WHERE day(time) % 3 = 0) st) m
           ON src.t = m.ts2 AND m.rn = 1"""),
    "q_focal_median" -> (cubeCte + """,
         d AS (SELECT date_trunc('day', time) AS time, band, y, x,
                 MAX(value) AS value
               FROM cube WHERE band = 'click' GROUP BY 1, 2, 3, 4),
         taps(dy, dx) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                                 (1,-1),(1,0),(1,1)),
         sc AS (SELECT d.time, d.band,
                  CAST(round(d.y, 0) AS BIGINT) + taps.dy AS ty,
                  CAST(round(d.x, 0) AS BIGINT) + taps.dx AS tx,
                  d.value AS v,
                  CASE WHEN taps.dy = 0 AND taps.dx = 0 THEN 1 ELSE 0 END AS self
                FROM d CROSS JOIN taps)
         SELECT time, band, CAST(ty AS DOUBLE) AS y, CAST(tx AS DOUBLE) AS x,
           quantile_cont(v, 0.5) AS value
         FROM sc GROUP BY time, band, ty, tx HAVING MAX(self) = 1"""),
    "q_apply_kernel" -> (cubeCte + """,
         d AS (SELECT date_trunc('day', time) AS time, band, y, x,
                 CAST(floor(MAX(value)) AS DOUBLE) AS value
               FROM cube WHERE band = 'click' GROUP BY 1, 2, 3, 4),
         ext AS (SELECT MIN(CAST(round(x, 0) AS BIGINT)) AS x0,
                        MAX(CAST(round(x, 0) AS BIGINT)) AS x1,
                        MIN(CAST(round(y, 0) AS BIGINT)) AS y0,
                        MAX(CAST(round(y, 0) AS BIGINT)) AS y1 FROM d),
         taps(dy, dx, w) AS (VALUES (-1,-1,1.0),(-1,0,2.0),(-1,1,1.0),
                                    ( 0,-1,2.0),( 0,0,4.0),( 0,1,2.0),
                                    ( 1,-1,1.0),( 1,0,2.0),( 1,1,1.0)),
         sc AS (SELECT d.time, d.band,
                  GREATEST(ext.y0, LEAST(ext.y1,
                    CAST(round(d.y, 0) AS BIGINT) + taps.dy)) AS ty,
                  GREATEST(ext.x0, LEAST(ext.x1,
                    CAST(round(d.x, 0) AS BIGINT) + taps.dx)) AS tx,
                  d.value * taps.w AS c
                FROM d CROSS JOIN taps CROSS JOIN ext)
         SELECT time, band, CAST(ty AS DOUBLE) AS y, CAST(tx AS DOUBLE) AS x,
           SUM(c) * 1.0 AS value
         FROM sc GROUP BY time, band, ty, tx"""),
    "q_interp_linear" -> (cubeCte + """,
         d AS (SELECT date_trunc('day', time) AS time, band, y, x,
                 CASE WHEN MAX(value) >= 100.0 AND MAX(value) <= 300.0
                      THEN NULL ELSE MAX(value) END AS value
               FROM cube GROUP BY 1, 2, 3, 4),
         w AS (SELECT time, band, y, x, value,
                 last_value(value IGNORE NULLS) OVER w1 AS pv,
                 last_value(CASE WHEN value IS NOT NULL THEN x END IGNORE NULLS)
                   OVER w1 AS pp,
                 first_value(value IGNORE NULLS) OVER w2 AS nv,
                 first_value(CASE WHEN value IS NOT NULL THEN x END IGNORE NULLS)
                   OVER w2 AS np
               FROM d
               WINDOW w1 AS (PARTITION BY time, band, y ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 w2 AS (PARTITION BY time, band, y ORDER BY x
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT time, band, y, x,
           CASE WHEN value IS NOT NULL THEN value
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  CASE WHEN np = pp THEN pv
                       ELSE pv + (nv - pv) * ((x - pp) / (np - pp)) END
                ELSE NULL END AS value
         FROM w"""),
    "q_radar_mask" -> (cubeCte + s""",
         dem AS (SELECT date_trunc('day', time) AS time,
                   CAST(round(y, 0) AS BIGINT) AS iy,
                   CAST(round(x, 0) AS BIGINT) AS ix, MAX(value) AS v
                 FROM cube WHERE band = 'view' GROUP BY 1, 2, 3),
         tgt AS (SELECT DISTINCT time, ix + sx AS tx, iy + sy AS ty
                 FROM dem CROSS JOIN (VALUES (1,1),(-1,1),(1,-1),(-1,-1)) s(sx, sy)),
         cor AS (SELECT t.time, t.tx, t.ty,
                   nw.v AS nw, ne.v AS ne, sw.v AS sw, se.v AS se
                 FROM tgt t
                 LEFT JOIN dem nw ON nw.time = t.time AND nw.ix = t.tx - 1 AND nw.iy = t.ty - 1
                 LEFT JOIN dem ne ON ne.time = t.time AND ne.ix = t.tx + 1 AND ne.iy = t.ty - 1
                 LEFT JOIN dem sw ON sw.time = t.time AND sw.ix = t.tx - 1 AND sw.iy = t.ty + 1
                 LEFT JOIN dem se ON se.time = t.time AND se.ix = t.tx + 1 AND se.iy = t.ty + 1),
         f AS (SELECT time, tx, ty,
                 CASE WHEN nw IS NOT NULL AND ne IS NOT NULL
                       AND sw IS NOT NULL AND se IS NOT NULL
                      THEN atan(((ne + (se - ne) / 2.0 * ${1.0 + rmDyP})
                                 - (nw + (sw - nw) / 2.0 * ${1.0 - rmDyP}))
                                / $rmDrg) * (-1.0) * $rmDeg
                      ELSE 0.0 END AS fv
               FROM cor),
         m AS (SELECT time, tx, ty, fv,
                 CASE WHEN fv > 0 AND fv < 40.0 THEN fv / 40.0 ELSE 0.0 END AS fore,
                 CASE WHEN fv > 0 AND fv > 40.0 THEN fv / 40.0 ELSE 0.0 END AS lay
               FROM f)
         SELECT time, CAST(ty AS DOUBLE) AS y, CAST(tx AS DOUBLE) AS x, b.band,
           CASE b.band
             WHEN '1' THEN (CASE WHEN lay > 1.0 THEN 1.0 ELSE 0.0 END)
             WHEN '2' THEN (CASE WHEN fore > 0.4 THEN 1.0 ELSE 0.0 END)
             ELSE (CASE WHEN fv < 0 AND abs(fv) > 50.0 THEN 1.0 ELSE 0.0 END)
           END AS value
         FROM m CROSS JOIN (VALUES ('1'),('2'),('3')) b(band)"""),
    "q_geocode" -> geocodeSql,
    "q_geocode_linear" -> geocodeLinearSql,
    "q_sar_bbox_lonlat" -> (cubeCte + """,
         d AS (SELECT date_trunc('day', time) AS time, band, y, x,
                 MAX(value) AS value
               FROM cube WHERE band = 'view' GROUP BY 1, 2, 3, 4),
         fullc AS (SELECT time, band, y, x, value FROM d
           UNION ALL SELECT time, 'grid_lon' AS band, y, x,
             11.0 + x * 0.001 + y * 0.00001 AS value FROM d
           UNION ALL SELECT time, 'grid_lat' AS band, y, x,
             45.0 + y * 0.001 + x * 0.00001 AS value FROM d),
         keep AS (SELECT DISTINCT y, x FROM d
           WHERE (11.0 + x * 0.001 + y * 0.00001) BETWEEN 11.0005 AND 11.0025
             AND (45.0 + y * 0.001 + x * 0.00001) BETWEEN 45.0005 AND 45.0305)
         SELECT f.time, f.band, f.y, f.x, f.value
         FROM fullc f JOIN keep USING (y, x)"""),
    "q_apply_not" -> cq(
      "SELECT time, band, y, x, NOT (value > 100) AS flag FROM cube"),
    "q_apply_if" -> cq(
      """SELECT time, band, y, x,
           CASE WHEN value > 100 THEN value * 2 ELSE value / 2 END AS value
         FROM cube"""),
    "q_scan_adjust" -> cq(
      """SELECT time, band, y, x,
           CASE WHEN band = 'click'
                THEN (CASE WHEN value = 50.0 THEN NULL ELSE value END)
                     * 0.01 + 10.0
                ELSE value END AS value
         FROM cube"""),
    "q_run_udf" -> cq(
      "SELECT time, band, y, x, sqrt(value) * 2 + 1 AS value FROM cube"),
    "q_run_udf_dimension" -> cq(
      // SQL's default frame with ORDER BY is RANGE UNBOUNDED
      // PRECEDING..CURRENT ROW — exactly the cummax range frame
      """SELECT time, band, y, x,
           MAX(value) OVER (PARTITION BY band, y, x ORDER BY time)
             - value AS value
         FROM cube"""),
    "q_run_udf_external" -> cq(
      // full replay of the Java EMA recurrence: per-series ordered list
      // fold (list_reduce starts with the first element — exactly
      // ema[0] = x[0]) evaluated at every prefix; (time, value) ordering
      // matches the executor's deterministic series sort. α = 0.25 /
      // 0.75 are exact binary, so the folds agree bit-for-bit. (cq
      // already opens the WITH — continue the CTE chain with a comma.)
      """, s AS (
           SELECT band, y, x,
             list(time ORDER BY time, value) AS ts,
             list(value ORDER BY time, value) AS vs
           FROM cube GROUP BY 1, 2, 3)
         SELECT unnest(ts) AS time, band, y, x,
           unnest(list_transform(range(1, len(vs) + 1),
             i -> list_reduce(vs[1:i],
                    (acc, v) -> 0.25 * v + 0.75 * acc))) AS value
         FROM s"""),
    "q_run_udf_python" -> cq(
      // same prefix-fold replay as the Java tier, for the Python
      // peak-hold recurrence: acc = max(v, 0.5·acc) started at the first
      // element. 0.5 is exact binary and greatest() is comparison-only,
      // so the worker and the fold agree bit-for-bit.
      """, s AS (
           SELECT band, y, x,
             list(time ORDER BY time, value) AS ts,
             list(value ORDER BY time, value) AS vs
           FROM cube GROUP BY 1, 2, 3)
         SELECT unnest(ts) AS time, band, y, x,
           unnest(list_transform(range(1, len(vs) + 1),
             i -> list_reduce(vs[1:i],
                    (acc, v) -> greatest(v, 0.5 * acc)))) AS value
         FROM s"""),
    "q_run_udf_reduce" -> cq(
      // quantile_cont is the same type-7 interpolation as Spark's exact
      // percentile (proven by the green q_quantiles) — hash-exact
      """SELECT band, y, x,
           quantile_cont(value, 0.9) - min(value) AS value
         FROM cube GROUP BY band, y, x"""),
    "q_fit_curve" -> cq(
      // hi/lo split cast: DuckDB's wide-decimal→double cast can be off by
      // one ulp; splitting the exact integer at 2^26 and recombining in
      // double reproduces Java's correctly-rounded BigDecimal.doubleValue
      s""", s0 AS (
           SELECT band, y, x,
             COUNT(CASE WHEN value != 0 AND NOT isnan(value) THEN 1 END) AS n,
             SUM(CASE WHEN value != 0 AND NOT isnan(value)
                      THEN epoch_us(time) // 1000000 END) AS sxr,
             SUM(CASE WHEN value != 0 AND NOT isnan(value)
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
                 END) AS sy100,
             SUM(CASE WHEN value != 0 AND NOT isnan(value)
                      THEN CAST(epoch_us(time) // 1000000 AS DECIMAL(19,0))
                           * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))
                 END) AS sxy100,
             SUM(CASE WHEN value != 0 AND NOT isnan(value)
                      THEN CAST(epoch_us(time) // 1000000 AS DECIMAL(19,0))
                           * CAST(epoch_us(time) // 1000000 AS DECIMAL(19,0))
                 END) AS sxxr
           FROM cube GROUP BY 1, 2, 3),
         s AS (
           SELECT band, y, x, CAST(n AS DOUBLE) AS n,
             ${splitCastSql("sxr")} AS sx,
             ${splitCastSql("sy100")} / 100.0 AS sy,
             ${splitCastSql("sxy100")} / 100.0 AS sxy,
             ${splitCastSql("sxxr")} AS sxx
           FROM s0),
         f AS (
           SELECT band, y, x, n, sx, sy,
             (n < 12 OR (n * sxx - sx * sx) = 0) AS deg,
             CASE WHEN n < 12 OR (n * sxx - sx * sx) = 0 THEN 0.0
                  ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS a1
           FROM s)
         SELECT band, y, x,
           CASE WHEN deg THEN 0.0 ELSE (sy - a1 * sx) / n END AS a0,
           a1
         FROM f"""),
    "q_predict_curve" -> cq(
      s"""SELECT c.time, c.band, c.y, c.x,
           p.a0 + 0.000001 * CAST(epoch_us(c.time) // 1000000 AS DOUBLE) AS value
         FROM cube c LEFT JOIN (
           SELECT band, y, x, ${dmeanSql("value")} AS a0
           FROM cube GROUP BY 1, 2, 3) p
           ON p.band = c.band AND p.y = c.y AND p.x = c.x"""),
    "q_load_result" -> cq(
      """SELECT date_trunc('day', time) AS time, band, y, x, MAX(value) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_load_result_netcdf" -> cq(
      // CAST AS FLOAT mirrors the writer's float32 data plane — the
      // reader returns exactly what the file stores
      """SELECT date_trunc('day', time) AS time, band, y, x,
           CAST(MAX(value) AS FLOAT) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_scan_tiled" -> cq(
      // pruning is a plan property; the data contract is the plain bbox
      """SELECT time, band, y, x, value FROM cube
         WHERE x BETWEEN 0.5 AND 2.5 AND y BETWEEN 4.5 AND 20.5"""),
    "q_aggregate_temporal" -> cq(
      // interval-membership replay as an inequality join over the
      // literal interval table; the overlap makes Jan 10-15 rows count
      // in BOTH of the first two groups
      """, iv AS (SELECT * FROM (VALUES
           (TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-15'),
           (TIMESTAMP '2024-01-10', TIMESTAMP '2024-02-01'),
           (TIMESTAMP '2024-02-01', TIMESTAMP '2024-03-01')) v(s, e))
         SELECT iv.s AS time, band, y, x, MAX(value) AS value
         FROM cube JOIN iv ON cube.time >= iv.s AND cube.time < iv.e
         GROUP BY 1, 2, 3, 4"""),
    "q_netcdf_source" -> cq(
      // plane-pruned V2 read == band-filtered store projection, float32
      """SELECT date_trunc('day', time) AS time, band, y, x,
           CAST(MAX(value) AS FLOAT) AS value
         FROM cube WHERE band IN ('click', 'view')
         GROUP BY 1, 2, 3, 4"""),
    "q_sink_json" -> cq(
      // the JSON round-trip recovers exactly the store projection —
      // shortest-roundtrip double serialization is lossless
      """SELECT date_trunc('day', time) AS time, band, y, x, MAX(value) AS value
         FROM cube GROUP BY 1, 2, 3, 4"""),
    "q_stac_describe" -> cq(
      // STAC description replay: extent aggregates over the same store,
      // per-band summaries from the registered adjust constants
      """, ext AS (SELECT min(time) AS t0, max(time) AS t1,
              min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
            FROM cube)
         SELECT 'events' AS id, b.band, ext.t0, ext.t1,
                ext.x0, ext.x1, ext.y0, ext.y1,
                b.scale, b."offset", b.nodata
         FROM ext CROSS JOIN (VALUES
           ('click', 0.01, 10.0, 50.0),
           ('error', 1.0, 0.0, NULL),
           ('purchase', 1.0, 0.0, NULL),
           ('signup', 1.0, 0.0, NULL),
           ('view', 1.0, 0.0, NULL)) b(band, scale, "offset", nodata)"""),
    "q_sink_png" -> cq(
      // replay of writePng's per-channel linear stretch: per-band
      // lo/span over present values, FLOOR(x + 0.5) is literally Java's
      // math.round on a non-negative double, missing grid cells render 0
      """, m AS (SELECT band, y, x, MAX(value) AS v FROM cube GROUP BY 1, 2, 3),
         ys AS (SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY y DESC) - 1
                  AS INTEGER) AS row FROM (SELECT DISTINCT y FROM m)),
         xs AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC) - 1
                  AS INTEGER) AS col FROM (SELECT DISTINCT x FROM m)),
         st AS (SELECT band, MIN(v) AS lo,
                  CASE WHEN MAX(v) > MIN(v) THEN MAX(v) - MIN(v)
                       ELSE 1.0 END AS span
                FROM m GROUP BY 1),
         px AS (SELECT ys.row, xs.col, bs.band,
                  COALESCE(CAST(FLOOR((m.v - st.lo) / st.span * 255.0 + 0.5)
                    AS INTEGER), 0) AS ch
                FROM ys CROSS JOIN xs
                CROSS JOIN (VALUES ('click'), ('view'), ('purchase')) bs(band)
                LEFT JOIN m ON m.band = bs.band AND m.y = ys.y AND m.x = xs.x
                LEFT JOIN st ON st.band = bs.band)
         SELECT row, col,
           MAX(CASE WHEN band = 'click' THEN ch END) AS r,
           MAX(CASE WHEN band = 'view' THEN ch END) AS g,
           MAX(CASE WHEN band = 'purchase' THEN ch END) AS b
         FROM px GROUP BY 1, 2"""),
    "q_sink_gtiff" -> cq(
      // the float32 quantization (CAST AS FLOAT) is the only transform
      // the GTiff plane applies to the reduced values; grid indices are
      // the writer's row-major top-down (y DESC) layout
      """, m AS (SELECT band, y, x, MAX(value) AS v FROM cube GROUP BY 1, 2, 3),
         ys AS (SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY y DESC) - 1
                  AS INTEGER) AS row FROM (SELECT DISTINCT y FROM m)),
         xs AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC) - 1
                  AS INTEGER) AS col FROM (SELECT DISTINCT x FROM m))
         SELECT m.band, ys.row, xs.col, CAST(m.v AS FLOAT) AS value
         FROM m JOIN ys ON ys.y = m.y JOIN xs ON xs.x = m.x"""),
    "q1_agg" ->
      s"""SELECT l_returnflag, ${dsumSql("l_quantity")} AS sum_qty,
           ${dsumSql("l_extendedprice")} AS sum_price, COUNT(*) AS n
         FROM lineitem GROUP BY 1""",
    "q_graph_pipeline" -> cq(
      // load_collection's temporal extent is EXCLUSIVE-end via -1 ms
      // (reference scan contract, load_odc_collection.py:78-79)
      """SELECT date_trunc('day', time) AS time, band, y, x, MAX(value) AS value
         FROM cube WHERE band IN ('click','view')
           AND time >= TIMESTAMP '2024-01-05'
           AND time <= TIMESTAMP '2024-01-25' - INTERVAL 1 MILLISECOND
         GROUP BY 1, 2, 3, 4"""),
  )
}
