package graft.ops

import graft.cube.{Cube, CubeMeta, Dim}
import graft.functions.ProductAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimension reducers and the aggregate_* family (SURVEY.md §2.4).
  *
  * openEO reduction semantics: a parent names the dimension / window /
  * period / geometry set, a child reducer subgraph names the function
  * (openeo_odc_driver.py:620-626, 906-963, 628-684). Here both collapse to
  * one `groupBy(remaining dims).agg(...)` — Catalyst splits it into
  * partial (map-side) + final aggregation automatically, which is exactly
  * the two-phase tree the reference approximates with per-chunk Dask
  * reductions. The "re-chunk the whole axis into one partition" dance
  * (openeo_odc_driver.py:900,1337,1513) disappears: a group IS the axis.
  */
object Reducers {

  /** Named reducer → aggregate Column. Variance = std² quirk preserved from
    * zonal stats (openeo_odc_driver.py:678). Median/quantile use the exact
    * sort-based `percentile` (the reference's xarray median is exact too);
    * `approxMedian` offers the sketch-based alternative for wide scans. */
  def reducer(name: String)(v: Column): Column = name match {
    case "min"      => min(v)
    case "max"      => max(v)
    case "mean"     => avg(v)
    case "sum"      => sum(v)
    case "median"   => percentile(v, lit(0.5))
    case "sd"       => stddev_samp(v)
    case "variance" => stddev_samp(v) * stddev_samp(v)
    case "product"  => ProductAgg.product(v)
    case "count"    => count(v)
    case "first"    => first(v, ignoreNulls = true)
    case other => throw new IllegalArgumentException(s"unknown reducer: $other")
  }

  /** `reduce_dimension` — reduce away one dimension with a named reducer. */
  def reduceDimension(c: Cube, dimension: String, name: String): Cube = {
    val d = Dim.canonical(dimension)
    require(c.has(d), s"cube has no dimension $d (dims=${c.dims})")
    groupAgg(c, c.dimsExcept(d), reducer(name)(col(Cube.ValueCol)))
  }

  /** `reduce_dimension` with an arbitrary aggregate expression (used by the
    * graph compiler for reducer subgraphs that are expressions over
    * array_elements, e.g. NDVI over the band axis). */
  def reduceDimensionExpr(c: Cube, dimension: String, agg: Column): Cube =
    groupAgg(c, c.dimsExcept(Dim.canonical(dimension)), agg)

  private def groupAgg(c: Cube, keep: Seq[String], agg: Column): Cube = {
    val meta = if (keep.contains(Dim.Band)) c.meta else c.meta.copy(bandOrder = Nil)
    Cube(c.df.groupBy(keep.map(col): _*).agg(agg.as(Cube.ValueCol)), meta)
  }

  /** `aggregate_temporal_period` — calendar-bucket resample
    * (openeo_odc_driver.py:906-963). Bucket start becomes the new time
    * label. `season` is the Dec-anchored quarter (DJF/MAM/JJA/SON), which
    * `date_trunc('quarter')` can't express — built from month arithmetic.
    * dekad / tropical-season / decade are rejected like the reference
    * (openeo_odc_driver.py:921-925). */
  def periodBucket(period: String, t: Column): Column = period match {
    case "hour"  => date_trunc("hour", t)
    case "day"   => date_trunc("day", t)
    case "week"  => date_trunc("week", t)
    case "month" => date_trunc("month", t)
    case "year"  => date_trunc("year", t)
    case "season" =>
      // shift +1 month so Dec joins the next year's Q1, truncate to quarter,
      // shift back — lands on the season start month (Dec/Mar/Jun/Sep)
      add_months(date_trunc("quarter", add_months(t, 1)), -1).cast("timestamp")
    case other => throw new IllegalArgumentException(
      s"period '$other' not supported (reference parity)")
  }

  def aggregateTemporalPeriod(c: Cube, period: String, name: String): Cube = {
    val keys = col(Dim.Time) :: c.dimsExcept(Dim.Time).map(col).toList
    val bucketed = c.df.withColumn(Dim.Time, periodBucket(period, col(Dim.Time)))
    Cube(bucketed.groupBy(keys: _*)
      .agg(reducer(name)(col(Cube.ValueCol)).as(Cube.ValueCol)), c.meta)
  }

  /** openEO `aggregate_temporal` — ARBITRARY (possibly overlapping)
    * half-open intervals `[start, end)`, an openEO-core process the
    * reference lacks (it only dispatches `aggregate_temporal_period`,
    * openeo_odc_driver.py:535-585); a client migrating from another
    * backend emits it, so the engine carries it as an addition. The new
    * time label is the interval START (the spec's default labels).
    *
    * Shape: the interval list is QUERY-sized (a literal), so membership
    * is a codegen'd `filter` over a literal struct array followed by an
    * explode of the MATCHES only — a row in k intervals costs k rows,
    * never |intervals|, and there is no join (the declarative
    * time-in-interval join would be the BandJoinRule cliff). One
    * partial+final aggregate on (label, other dims) follows. */
  def aggregateTemporal(c: Cube, intervals: Seq[(String, String)],
      name: String): Cube = {
    require(intervals.nonEmpty, "aggregate_temporal needs intervals")
    val parsed = intervals.map { case (s, e) =>
      (Filters.parseTime(s), Filters.parseTime(e))
    }
    // label = interval start, so starts must be distinct (two intervals
    // sharing a start would silently MERGE into one group and
    // double-count under sum); inverted intervals are empty by
    // construction — reject both loudly per the openEO contract
    parsed.foreach { case (s, e) =>
      require(s.before(e), s"aggregate_temporal: interval start $s is " +
        s"not before end $e")
    }
    require(parsed.map(_._1).distinct.length == parsed.length,
      "aggregate_temporal: interval starts are the labels and must be " +
        "distinct")
    val ivs = array(parsed.map { case (s, e) =>
      struct(lit(s).as("s"), lit(e).as("e"))
    }: _*)
    val matched = c.df.withColumn("_iv", explode(filter(ivs,
      i => col(Dim.Time) >= i.getField("s") &&
        col(Dim.Time) < i.getField("e"))))
    val keys = col("_iv.s") :: c.dimsExcept(Dim.Time).map(col).toList
    Cube(matched.groupBy(keys: _*)
      .agg(reducer(name)(col(Cube.ValueCol)).as(Cube.ValueCol))
      .withColumnRenamed("s", Dim.Time)
      .select((col(Dim.Time) :: c.dimsExcept(Dim.Time).map(col).toList) :+
        col(Cube.ValueCol): _*), c.meta)
  }

  /** `aggregate_spatial_window` — tumbling block aggregation over the pixel
    * grid, i.e. xarray `coarsen` (openeo_odc_driver.py:529-533 et al.).
    * Needs dense integer grid indices (CubeMeta.grid). boundary='trim'
    * drops partial edge blocks; 'pad' keeps them (as partial groups — no
    * NaN padding needed since aggs ignore missing cells). The new
    * coordinate is the block's first cell center, matching coarsen. */
  def aggregateSpatialWindow(c: Cube, sizeX: Int, sizeY: Int, name: String,
      boundary: String = "trim"): Cube = {
    val g = c.meta.requireGrid
    val bx = floor(g.xIdx(col(Dim.X)) / sizeX).cast("long")
    val by = floor(g.yIdx(col(Dim.Y)) / sizeY).cast("long")
    val others = c.dims.filterNot(d => d == Dim.X || d == Dim.Y).map(col)
    var df = c.df.withColumn("_bx", bx).withColumn("_by", by)
    if (boundary == "trim") {
      // block is complete iff all size*size indices exist in-extent; with a
      // dense grid that's: block start + size - 1 still within max index.
      // Max indices come from a broadcast one-row agg joined into the plan
      // (no driver collect → single lazy job, upstream computed once).
      val ext = broadcast(c.df.agg(
        max(g.xIdx(col(Dim.X))).as("_maxix"),
        max(g.yIdx(col(Dim.Y))).as("_maxiy")))
      df = df.crossJoin(ext).where(
        (col("_bx") + 1) * sizeX - 1 <= col("_maxix") &&
          (col("_by") + 1) * sizeY - 1 <= col("_maxiy"))
        .drop("_maxix", "_maxiy")
    }
    val out = df.groupBy(others :+ col("_bx") :+ col("_by"): _*)
      .agg(reducer(name)(col(Cube.ValueCol)).as(Cube.ValueCol))
      .withColumn(Dim.X, g.xCoord(col("_bx") * sizeX))
      .withColumn(Dim.Y, g.yCoord(col("_by") * sizeY))
      .drop("_bx", "_by")
    val newGrid = g.copy(dx = g.dx * sizeX, dy = g.dy * sizeY)
    Cube(out, c.meta.copy(grid = Some(newGrid)))
  }

  /** `aggregate_spatial` — zonal statistics over GeoJSON features
    * (openeo_odc_driver.py:628-684). The reference loops features and
    * concats; here each pixel gets the ordinal of the first feature
    * containing it ([[Geo.featureId]], one kernel call whatever the vertex
    * count) and the whole thing is a single aggregation — per-feature
    * parallelism instead of a driver loop. Output dims: the cube's dims
    * other than x/y, plus the feature ordinal as `targetDimension`. */
  def aggregateSpatial(c: Cube, features: Seq[Geo.Ring], name: String,
      featuresEpsg: Int = 4326, targetDimension: String = "result"): DataFrame = {
    val cubeEpsg = c.meta.crs.flatMap(Filters.crsEpsg).getOrElse(featuresEpsg)
    val proj = features.map(Crs.transformRing(_, featuresEpsg, cubeEpsg))
    val fid = Geo.featureId(col(Dim.X), col(Dim.Y), proj)
    val others = c.dims.filterNot(d => d == Dim.X || d == Dim.Y).map(col)
    c.df.withColumn(targetDimension, fid)
      .where(col(targetDimension).isNotNull)
      .groupBy(others :+ col(targetDimension): _*)
      .agg(reducer(name)(col(Cube.ValueCol)).as(Cube.ValueCol))
  }

  /** `quantiles` — q-quantiles or explicit probabilities over a dimension
    * (openeo_odc_driver.py:852-904). Probability generation preserves the
    * reference's `arange(0, 1, 1/q)[1:]` (note: q-1 values, excludes 1.0).
    * The quantile ordinal materializes as a new `band` label q0..qn via
    * posexplode — the openEO target_dimension. */
  def quantiles(c: Cube, dimension: String, probabilities: Seq[Double] = Nil,
      q: Option[Int] = None): Cube =
    quantilesWith(c, dimension, probabilities, q)(
      probs => percentile(col(Cube.ValueCol), array(probs.map(lit): _*)))

  /** Shared validation + probability derivation + posexplode tail for the
    * exact and approximate quantile variants — one implementation so the
    * openEO parameter rules and output shape cannot diverge. */
  private def quantilesWith(c: Cube, dimension: String,
      probabilities: Seq[Double], q: Option[Int])(
      agg: Seq[Double] => Column): Cube = {
    if (probabilities.isEmpty && q.isEmpty)
      throw graft.OpenEoError.QuantilesParameterMissing
    if (probabilities.nonEmpty && q.nonEmpty)
      throw graft.OpenEoError.QuantilesParameterConflict
    val probs = if (probabilities.nonEmpty) probabilities
      else (1 until q.get).map(i => i.toDouble / q.get)
    val d = Dim.canonical(dimension)
    val keep = c.dimsExcept(d)
    val agged = c.df.groupBy(keep.map(col): _*).agg(agg(probs).as("_qs"))
    val out = agged.select(
      agged.columns.filter(_ != "_qs").toIndexedSeq.map(col) :+ posexplode(col("_qs")): _*)
      .withColumnRenamed("pos", "quantile_idx")
      .withColumnRenamed("col", Cube.ValueCol)
    Cube(out, c.meta)
  }

  /** Approximate [[quantiles]] via `approx_percentile` (Greenwald-Khanna
    * sketch): identical output shape, rank error bounded by
    * 1/`accuracy`. The 100 TB escape hatch — the exact `percentile`
    * aggregate buffers every value of a group, fine for per-pixel
    * series but not for continent-scale zonal groups; the sketch is
    * constant-memory per group and merges map-side. LawsSpec pins the
    * sketch within rank-error tolerance of the exact quantiles. */
  def quantilesApprox(c: Cube, dimension: String,
      probabilities: Seq[Double] = Nil, q: Option[Int] = None,
      accuracy: Int = 10000): Cube =
    quantilesWith(c, dimension, probabilities, q)(
      probs => approx_percentile(col(Cube.ValueCol),
        array(probs.map(lit): _*), lit(accuracy)))

  /** `climatological_normal` — monthly climatology: mean over all years per
    * calendar month (openeo_odc_driver.py:1354-1373; only 'monthly'
    * supported there). Returns a cube keyed by `month` int column in place
    * of time. */
  def climatologicalNormal(c: Cube, periodFrom: Option[String] = None,
      periodTo: Option[String] = None): DataFrame = {
    var df = c.df
    for (f <- periodFrom; t <- periodTo) {
      df = df.where(col(Dim.Time) >= lit(Filters.parseTime(f, dayOnly = true)) &&
        col(Dim.Time) <= lit(Filters.parseTime(t, dayOnly = true)))
    }
    val others = c.dimsExcept(Dim.Time).map(col)
    df.withColumn("month", month(col(Dim.Time)))
      .groupBy(others :+ col("month"): _*)
      .agg(avg(col(Cube.ValueCol)).as(Cube.ValueCol))
  }

  /** `anomaly` — cube minus its monthly normals: equi-join on the derived
    * month key (openeo_odc_driver.py:1375-1383). The normals side is tiny
    * (12 × pixels after reduction? no — 12 × bands × pixels); Catalyst/AQE
    * broadcast it when it fits. */
  def anomaly(c: Cube, normals: DataFrame): Cube = {
    val keys = "month" +: normals.columns.toSeq
      .filter(Dim.All.contains).filterNot(_ == Dim.Time)
    val n = normals.withColumnRenamed(Cube.ValueCol, "_normal")
    val joined = c.df.withColumn("month", month(col(Dim.Time)))
      .join(n, keys.toSeq, "left")
      .withColumn(Cube.ValueCol, col(Cube.ValueCol) - col("_normal"))
      .drop("month", "_normal")
    c.withDF(joined)
  }
}
