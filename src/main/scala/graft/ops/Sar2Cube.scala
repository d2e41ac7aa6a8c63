package graft.ops

import graft.cube.{Cube, CubeMeta, Dim, GridRef}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SAR2Cube domain operators (SURVEY.md §2.9).
  *
  * `geocode` in the reference regrids a radar-geometry cube (per-pixel
  * lon/lat carried as `grid_lon`/`grid_lat` DATA bands) onto a regular
  * Sentinel-2-aligned UTM grid via per-chunk Delaunay interpolation with a
  * joblib pool and NetCDF reassembly (sar2cube/geocode.py:22-197). Here:
  * project each pixel's lon/lat to UTM *inside the plan* (the Transverse
  * Mercator series is plain arithmetic+trig, so it compiles to Column
  * expressions and stays in whole-stage codegen — no UDF), bin to the
  * target cell, and take the nearest sample per cell. One shuffle, no
  * driver round-trips, no files.
  */
object Sar2Cube {

  /** Gap-fill stencil: the 8 neighbor offsets with a fixed ordinal `oi`
    * (fold order for the deterministic IDW sum) and IDW weight
    * 1/hypot(ox,oy). Shared with the geocode oracle SQL, which embeds
    * these exact doubles as literals. */
  val stencilOffsets: Seq[(Int, Int, Int, Double)] = {
    val offs = for { oy <- -1 to 1; ox <- -1 to 1 if ox != 0 || oy != 0 }
      yield (ox, oy, 1.0 / math.hypot(ox, oy))
    offs.zipWithIndex.map { case ((ox, oy, w), oi) => (oi, ox, oy, w) }
  }

  /** The folded constants of [[utmFromLonLatCols]] for one EPSG, as the
    * exact doubles Spark's literals hold — the geocode oracle SQL embeds
    * their shortest-roundtrip strings so both engines start from identical
    * constants (the same trick as the radar-mask oracle). */
  def tmConstants(epsg: Int): Map[String, Double] = {
    val aa = 6378137.0; val ff = 1.0 / 298.257223563
    val e2 = ff * (2 - ff); val ep2 = e2 / (1 - e2)
    val (zone, _) = utmZone(epsg)
    Map(
      "aa" -> aa, "e2" -> e2, "ep2" -> ep2, "k0" -> 0.9996,
      "lam0" -> math.toRadians(zone * 6 - 183),
      "m1" -> (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256),
      "m2" -> (3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * e2 * e2 * e2 / 1024),
      "m3" -> (15 * e2 * e2 / 256 + 45 * e2 * e2 * e2 / 1024),
      "m4" -> (35 * e2 * e2 * e2 / 3072),
      "c58" -> 58 * ep2, "c330" -> 330 * ep2)
  }

  private def utmZone(epsg: Int): (Int, Boolean) = Proj.utmZone(epsg)
    .getOrElse(throw new IllegalArgumentException(s"not a UTM EPSG code: $epsg"))

  /** Snyder Transverse-Mercator forward as Column expressions. Mirrors
    * [[TransverseMercator.forward]] on the UTM registry entries term for
    * term. */
  def utmFromLonLatCols(lonDeg: Column, latDeg: Column, epsg: Int): (Column, Column) = {
    val aa = 6378137.0; val ff = 1.0 / 298.257223563
    val e2 = ff * (2 - ff); val ep2 = e2 / (1 - e2); val k0 = 0.9996
    val (zone, north) = utmZone(epsg)
    val lam0 = math.toRadians(zone * 6 - 183)
    val phi = radians(latDeg); val lam = radians(lonDeg)
    val sinp = sin(phi); val cosp = cos(phi); val tanp = tan(phi)
    val n = lit(aa) / sqrt(lit(1.0) - lit(e2) * sinp * sinp)
    val t = tanp * tanp
    val c = lit(ep2) * cosp * cosp
    val bigA = (lam - lit(lam0)) * cosp
    val m = lit(aa) * (lit(1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256) * phi -
      lit(3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * e2 * e2 * e2 / 1024) * sin(phi * 2) +
      lit(15 * e2 * e2 / 256 + 45 * e2 * e2 * e2 / 1024) * sin(phi * 4) -
      lit(35 * e2 * e2 * e2 / 3072) * sin(phi * 6))
    val a3 = bigA * bigA * bigA; val a4 = a3 * bigA; val a5 = a4 * bigA; val a6 = a5 * bigA
    val x = lit(k0) * n * (bigA + (lit(1.0) - t + c) * a3 / 6 +
      (lit(5.0) - t * 18 + t * t + c * 72 - lit(58 * ep2)) * a5 / 120) + lit(500000.0)
    val y = lit(k0) * (m + n * tanp * (bigA * bigA / 2 +
      (lit(5.0) - t + c * 9 + c * c * 4) * a4 / 24 +
      (lit(61.0) - t * 58 + t * t + c * 600 - lit(330 * ep2)) * a6 / 720))
    (x, if (north) y else y + lit(10000000.0))
  }

  /** `geocode`: cube carries grid_lon/grid_lat as bands; data bands are
    * regridded to a regular UTM grid of `resolution` meters. Output grid
    * is S2-aligned like create_S2grid (sar2cube/utils.py:56-82). Nearest
    * sample per target cell (the reference's nearest-neighbor path with
    * its linear-interpolation validity mask approximated by the bounded
    * cell bin). */
  def geocode(c: Cube, targetEpsg: Int, resolution: Double,
      lonBand: String = "grid_lon", latBand: String = "grid_lat",
      fillGaps: Boolean = true, method: String = "near"): Cube = {
    require(c.has(Dim.Band), "geocode needs band dimension with grid_lon/grid_lat")
    require(method == "near" || method == "linear",
      s"geocode method must be near|linear, got $method")
    if (method == "linear")
      return geocodeLinear(c, targetEpsg, resolution, lonBand, latBand)
    // Gather each pixel's lon/lat onto its data rows with ONE window pass
    // over the pixel key (y, x): the geometry bands and the data bands
    // shuffle together once, instead of the previous pivot (shuffle) +
    // self-join (second shuffle) — both keyed on the same (y, x).
    val geoKeys = c.dims.filter(d => d == Dim.Y || d == Dim.X)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(geoKeys.map(col): _*)
    val lonV = max(when(col(Dim.Band) === lonBand,
      col(Cube.ValueCol).cast("double"))).over(w)
    val latV = max(when(col(Dim.Band) === latBand,
      col(Cube.ValueCol).cast("double"))).over(w)
    val joined = c.df
      .withColumn("_lon", lonV).withColumn("_lat", latV)
      .where(!col(Dim.Band).isin(lonBand, latBand) &&
        col("_lon").isNotNull && col("_lat").isNotNull)
    val (easting, northing) =
      utmFromLonLatCols(col("_lon"), col("_lat"), targetEpsg)
    val tx = floor(easting / resolution).cast("long")
    val ty = floor(northing / resolution).cast("long")
    val cellCx = (tx.cast("double") + 0.5) * resolution
    val cellCy = (ty.cast("double") + 0.5) * resolution
    val d2 = (easting - cellCx) * (easting - cellCx) +
      (northing - cellCy) * (northing - cellCy)
    val otherNames = c.dims.filterNot(d => d == Dim.X || d == Dim.Y)
    val others = otherNames.map(col)
    val keyNames = otherNames ++ Seq("_tx", "_ty")
    // argmin tie-break: (d2, src_y, src_x) — two radar samples exactly
    // equidistant from the cell center (symmetric geometries produce them)
    // would otherwise flip winners between runs/partitionings
    val binned = joined
      .withColumn("_tx", tx).withColumn("_ty", ty).withColumn("_d2", d2)
      .groupBy(others :+ col("_tx") :+ col("_ty"): _*)
      .agg(min_by(col(Cube.ValueCol),
        struct(col("_d2"), col(Dim.Y), col(Dim.X))).as(Cube.ValueCol))
      .select(keyNames.map(col) :+ col(Cube.ValueCol): _*)
    // Gap fill: the reference's Delaunay interpolation produces a value
    // for every target cell inside the radar footprint even where the
    // radar sampling is locally sparser than the target grid
    // (sar2cube/geocode.py:38-106, with a linear-interp validity mask
    // dropping extrapolated cells). Nearest-bin leaves pinholes there: a
    // cell with >= 4 populated 8-neighbors (at least half the
    // neighborhood — a cell just OUTSIDE a straight data edge has exactly
    // 3) is interior and gets an inverse-distance weighted mean; cells
    // outside the footprint stay empty — the validity-mask analogue.
    //
    // Gap keys are found WITHOUT scattering the data rows x9 through a
    // shuffle (the round-2 cost, paid even by gap-free inputs): a cheap
    // geometric prune over the DISTINCT (tx, ty) cell set names candidate
    // cells, the candidate x slice key universe is anti-joined against the
    // binned keys to find per-slice holes (narrow keys, ~|binned| rows),
    // and only those few holes pull neighbor values — via a broadcast
    // stencil join, so the binned data never re-shuffles.
    val full = if (!fillGaps) binned else {
      // binned is read several times below — checkpoint it eagerly so the
      // window/TM/bin pipeline runs once and downstream consumers scan the
      // materialized target-grid-sized result; blocks are freed by the
      // ContextCleaner when the query's references drop (no named cache
      // left behind).
      val binnedC = binned.localCheckpoint(true)
      val nbrOffsets = Sar2Cube.stencilOffsets
      val offArr = array(nbrOffsets.map { case (oi, ox, oy, wt) =>
        struct(lit(oi).as("oi"), lit(ox).as("ox"), lit(oy).as("oy"),
          lit(wt).as("w"))
      }: _*)
      // geometric candidate cells: >= 4 of the 8 neighbors populated in
      // SOME slice. A superset prune — a slice-level hole needs >= 4
      // same-slice neighbors, which implies >= 4 geometric ones; actual
      // per-slice support is re-checked in the fill aggregation.
      val cells = binnedC.select(col("_tx"), col("_ty")).distinct()
      val candCells = cells
        .select(explode(offArr).as("_o"), col("_tx"), col("_ty"))
        .select((col("_tx") + col("_o.ox")).as("_tx"),
          (col("_ty") + col("_o.oy")).as("_ty"))
        .groupBy(col("_tx"), col("_ty"))
        .agg(count(lit(1)).as("_support"))
        .where(col("_support") >= 4)
        .select(col("_tx"), col("_ty"))
      // per-slice holes: candidate cells absent from that (band, time)
      // slice — matching the round-2 per-slice scatter semantics exactly
      // (presence can differ per slice on sparse cubes). Narrow keys only;
      // the anti-join shuffles ~|binned| keys, not 9x the data.
      val slices = binnedC.select(others: _*).distinct()
      val gapKeys = candCells.crossJoin(slices)
        .join(binnedC.select(keyNames.map(col): _*), keyNames, "left_anti")
      // (gap key <- source cell, weight) stencil, keyed by the SOURCE cell
      // so the big binned side joins without moving. Holes are interior
      // pinholes — small by construction — hence the broadcast; if a use
      // case ever produces footprint-scale gaps (target grid much finer
      // than the radar sampling), drop the broadcast hint and let the
      // persisted binned side shuffle instead.
      val gapNbrs = broadcast(gapKeys
        .select(others ++ Seq(explode(offArr).as("_o"), col("_tx"), col("_ty")): _*)
        .select(others ++ Seq(
          (col("_tx") + col("_o.ox")).as("_tx"),
          (col("_ty") + col("_o.oy")).as("_ty"),
          col("_tx").as("_gtx"), col("_ty").as("_gty"),
          col("_o.oi").as("_oi"), col("_o.w").as("_w")): _*))
      // per-slice IDW over the neighbors actually populated in that slice,
      // with the >= 4 support re-check. The ≤8 (weight, value) terms are
      // folded in STENCIL-OFFSET ORDER (sorted collect + left fold), not
      // partial-aggregation order — the sum is deterministic across
      // partitionings and reproducible by an ordered-SUM oracle.
      val filled = binnedC.join(gapNbrs, keyNames)
        .groupBy(others :+ col("_gtx") :+ col("_gty"): _*)
        .agg(sort_array(collect_list(struct(col("_oi").as("oi"),
          (col(Cube.ValueCol) * col("_w")).as("pv"),
          col("_w").as("w")))).as("_ps"))
        .withColumn(Cube.ValueCol,
          aggregate(col("_ps"), lit(0.0), (acc, s) => acc + s.getField("pv")) /
            aggregate(col("_ps"), lit(0.0), (acc, s) => acc + s.getField("w")))
        .where(size(col("_ps")) >= 4)
        .withColumnRenamed("_gtx", "_tx").withColumnRenamed("_gty", "_ty")
        .select(keyNames.map(col) :+ col(Cube.ValueCol): _*)
      binnedC.unionByName(filled)
    }
    val out = full
      .withColumn(Dim.X, (col("_tx").cast("double") + 0.5) * resolution)
      .withColumn(Dim.Y, (col("_ty").cast("double") + 0.5) * resolution)
      .drop("_tx", "_ty")
    Cube(out, c.meta.copy(
      crs = Some(s"EPSG:$targetEpsg"),
      grid = Some(GridRef(resolution / 2, resolution / 2, resolution, resolution)),
      bandOrder = c.meta.bandOrder.filterNot(b => b == lonBand || b == latBand)))
  }

  /** `geocode(method="linear")` — the reference's Delaunay fidelity tier
    * (sar2cube/geocode.py:38-106), decomposed per-tile:
    *
    * The reference chunks the target grid, truncates the irregular
    * source samples to each chunk's bbox + `resolution*8` offset, builds
    * a Delaunay triangulation, then — reading the code closely — uses
    * the triangulation for a NEAREST-neighbor value lookup
    * (`func_nearest`) and uses the LINEAR interpolator only as a
    * VALIDITY MASK (`da.where(~isnan(da_linear))`; the linear-values
    * line is commented out). A scipy LinearNDInterpolator is defined
    * exactly on the convex hull of its input points, so the mask is
    * "cell center inside the convex hull of the chunk's (truncated)
    * samples" — which this implementation computes directly (monotone
    * chain + point-in-polygon) instead of triangulating: same region,
    * deterministic, no qhull.
    *
    * Differences vs the nearest-bin path ([[geocode]], the default):
    * value = nearest sample over the WHOLE halo window (not just the
    * cell's own bin), and coverage = hull membership (cells with no
    * nearby sample but inside the footprint get the nearest value;
    * cells outside the footprint never appear — no IDW pinhole fill
    * needed). Law-tested against nearest-bin on smooth dense fields
    * (equal there) with the divergences pinned (GeoSpec).
    *
    * Scale shape: samples shuffle ONCE keyed by `tileCells`-cell target
    * tile, replicated only into tiles whose halo-expanded bbox contains
    * them (≤ 4 tiles when halo < tile width); each task materializes
    * one tile's samples (reference chunk memory), hulls in O(n log n),
    * and emits only in-hull cells. Per-slice groups (time, band) keep
    * the triangulation per-variable like the reference's per-chunk
    * Delaunay. */
  def geocodeLinear(c: Cube, targetEpsg: Int, resolution: Double,
      lonBand: String = "grid_lon", latBand: String = "grid_lat",
      tileCells: Int = 64): Cube = {
    require(c.has(Dim.Band), "geocode needs band dimension with grid_lon/grid_lat")
    require(tileCells > 8, "tileCells must exceed the 8-cell halo")
    val hasTime = c.has(Dim.Time)
    val spark = c.df.sparkSession
    import spark.implicits._
    val geoKeys = c.dims.filter(d => d == Dim.Y || d == Dim.X)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(geoKeys.map(col): _*)
    val lonV = max(when(col(Dim.Band) === lonBand,
      col(Cube.ValueCol).cast("double"))).over(w)
    val latV = max(when(col(Dim.Band) === latBand,
      col(Cube.ValueCol).cast("double"))).over(w)
    val joined = c.df
      .withColumn("_lon", lonV).withColumn("_lat", latV)
      .where(!col(Dim.Band).isin(lonBand, latBand) &&
        col("_lon").isNotNull && col("_lat").isNotNull)
    val (easting, northing) =
      utmFromLonLatCols(col("_lon"), col("_lat"), targetEpsg)
    val halo = resolution * 8 // the reference's `offset`
    val tileW = tileCells * resolution
    // every tile whose halo-expanded extent contains the sample
    val teLo = floor((easting - halo) / tileW).cast("long")
    val teHi = floor((easting + halo) / tileW).cast("long")
    val tnLo = floor((northing - halo) / tileW).cast("long")
    val tnHi = floor((northing + halo) / tileW).cast("long")
    val keyed = joined.select(
      (if (hasTime) unix_micros(col(Dim.Time)) else lit(0L)).as("_t"),
      col(Dim.Band).as("_b"),
      explode(sequence(teLo, teHi)).as("_te"),
      tnLo.as("_tnLo"), tnHi.as("_tnHi"),
      easting.as("_e"), northing.as("_n"),
      col(Dim.Y).as("_sy"), col(Dim.X).as("_sx"),
      col(Cube.ValueCol).cast("double").as("_v"))
      .select(col("_t"), col("_b"), col("_te"),
        explode(sequence(col("_tnLo"), col("_tnHi"))).as("_tn"),
        col("_e"), col("_n"), col("_sy"), col("_sx"), col("_v"))
      .as[(Long, String, Long, Long, Double, Double, Double, Double, Double)]
    val out = keyed
      .groupByKey(r => (r._1, r._2, r._3, r._4))
      .flatMapGroups { (key: (Long, String, Long, Long),
          it: Iterator[(Long, String, Long, Long, Double, Double, Double,
            Double, Double)]) =>
        val samples = it.toArray
        val pts = samples.map(s => (s._5, s._6)).distinct.sortBy(identity)
        if (pts.length < 3) Iterator.empty
        else {
          // Andrew monotone chain; hull in CCW order, collinear dropped
          def cross(o: (Double, Double), a: (Double, Double),
              b: (Double, Double)): Double =
            (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
          def half(ps: Iterator[(Double, Double)]) = {
            val h = scala.collection.mutable.ArrayBuffer
              .empty[(Double, Double)]
            ps.foreach { p =>
              while (h.length >= 2 &&
                cross(h(h.length - 2), h(h.length - 1), p) <= 0)
                h.remove(h.length - 1)
              h += p
            }
            h
          }
          val lower = half(pts.iterator)
          val upper = half(pts.reverseIterator)
          val hull = (lower.dropRight(1) ++ upper.dropRight(1)).toArray
          if (hull.length < 3) Iterator.empty
          else {
            // boundary tolerance: a cell center exactly ON a hull edge
            // (samples sitting on the target grid) must count as covered.
            // The lon/lat→UTM round-trip perturbs coordinates by ~1e-4 m
            // with a systematic sign, so a knife-edge test would drop
            // whole edge rows. Treat centers within resolution×1e-4 of an
            // edge (1 mm at 10 m cells — 4 orders below the grid) as
            // inside: cross/|b-a| is the signed distance to the edge.
            val tol = resolution * 1e-4
            def inHull(px: Double, py: Double): Boolean = {
              var i = 0; var in = true
              while (in && i < hull.length) {
                val a = hull(i); val b = hull((i + 1) % hull.length)
                val len = math.hypot(b._1 - a._1, b._2 - a._2)
                if (cross(a, b, (px, py)) < -tol * len) in = false
                i += 1
              }
              in
            }
            // this tile's target cells ∩ the hull's bbox
            val (te, tn) = (key._3, key._4)
            val minX = hull.map(_._1).min; val maxX = hull.map(_._1).max
            val minY = hull.map(_._2).min; val maxY = hull.map(_._2).max
            val txLo = math.max(te * tileCells,
              math.floor(minX / resolution).toLong)
            val txHi = math.min((te + 1) * tileCells - 1,
              math.floor(maxX / resolution).toLong)
            val tyLo = math.max(tn * tileCells,
              math.floor(minY / resolution).toLong)
            val tyHi = math.min((tn + 1) * tileCells - 1,
              math.floor(maxY / resolution).toLong)
            for {
              tx <- (txLo to txHi).iterator; ty <- tyLo to tyHi
              cx = (tx + 0.5) * resolution; cy = (ty + 0.5) * resolution
              if inHull(cx, cy)
            } yield {
              // nearest sample over the halo window, (d2, srcY, srcX)
              // tie-break like the bin path
              var best = samples(0)
              var bestD = Double.MaxValue
              var i = 0
              while (i < samples.length) {
                val s = samples(i)
                val d = (s._5 - cx) * (s._5 - cx) + (s._6 - cy) * (s._6 - cy)
                if (d < bestD || (d == bestD &&
                    (s._7 < best._7 || (s._7 == best._7 && s._8 < best._8)))) {
                  best = s; bestD = d
                }
                i += 1
              }
              (key._1, key._2, tx, ty, best._9)
            }
          }
        }
      }
    val df0 = out.toDF("_t", Dim.Band, "_tx", "_ty", Cube.ValueCol)
      .withColumn(Dim.X, (col("_tx").cast("double") + 0.5) * resolution)
      .withColumn(Dim.Y, (col("_ty").cast("double") + 0.5) * resolution)
      .drop("_tx", "_ty")
    val withTime = if (hasTime)
      df0.withColumn(Dim.Time, timestamp_micros(col("_t"))).drop("_t")
    else df0.drop("_t")
    Cube(withTime.select(c.dims.map(col) :+ col(Cube.ValueCol): _*),
      c.meta.copy(
        crs = Some(s"EPSG:$targetEpsg"),
        grid = Some(GridRef(resolution / 2, resolution / 2,
          resolution, resolution)),
        bandOrder = c.meta.bandOrder.filterNot(b =>
          b == lonBand || b == latBand)))
  }

  /** SAR2Cube scan-path bbox filter: bbox is tested against the lon/lat
    * DATA bands, not coordinates (load_odc_collection.py:159-173). Keeps
    * pixels whose lon/lat fall in the bbox, across all bands. */
  def filterBboxByLonLatBands(c: Cube, west: Double, south: Double,
      east: Double, north: Double,
      lonBand: String = "grid_lon", latBand: String = "grid_lat"): Cube = {
    val geoKeys = c.dims.filter(d => d == Dim.Y || d == Dim.X)
    val geom = c.df.where(col(Dim.Band).isin(lonBand, latBand))
      .groupBy(geoKeys.map(col): _*)
      .pivot(Dim.Band, Seq(lonBand, latBand))
      .agg(first(col(Cube.ValueCol)))
      .where(col(lonBand).between(west, east) && col(latBand).between(south, north))
      .select(geoKeys.map(col): _*)
    c.withDF(c.df.join(geom, geoKeys, "left_semi"))
  }

  /** `radar_mask` (openeo_odc_driver.py:1426-1504): layover /
    * foreshortening / shadow masks from a DEM band and the scene-mean local
    * incidence angle (LIA band). The four corner-neighbor DEM samples per
    * pixel are gathered by scattering each DEM cell to its four diagonal
    * neighbors (tagged), then pivoting — one shuffle on the pixel key; the
    * LIA mean is a scalar agg. Border pixels (missing a corner) yield 0
    * like the reference's zero-initialized output. Output bands "1"
    * (layover), "2" (foreshortening), "3" (shadow).
    */
  def radarMask(c: Cube, foreshorteningTh: Double, layoverTh: Double,
      orbitDirection: String): Cube = {
    val g = c.meta.requireGrid
    val dem = c.df.where(col(Dim.Band) === "DEM").drop(Dim.Band)
    // scene-mean LIA as a broadcast one-row agg joined into the plan — no
    // driver collect, so the operator stays a single lazy job
    val liaDf = broadcast(c.df.where(col(Dim.Band) === "LIA")
      .agg(avg(col(Cube.ValueCol)).as("_lia")))
    // a missing/empty LIA band yields a null mean — fail loudly in the plan
    // instead of silently emitting all-zero masks (every when() below would
    // fall through to otherwise(0.0))
    val liaMean = coalesce(col("_lia"),
      raise_error(lit("radar_mask: LIA band missing or empty")).cast("double"))
    val heading = math.toRadians(if (orbitDirection == "DSC") 12.5 else -12.5)
    val dx = g.dx; val dy = g.dy
    val dxP = dx * math.tan(heading); val dyP = dy * math.tan(heading)
    val drg = 2 * math.sqrt(dxP * dxP + dx * dx)
    val rgSign = if (heading >= 0) -1.0 else 1.0
    // scatter each DEM cell to the 4 diagonal neighbors that need it
    val others = c.dims.filterNot(d => d == Dim.X || d == Dim.Y || d == Dim.Band).map(col)
    val tags = Seq(("nw", 1, 1), ("ne", -1, 1), ("sw", 1, -1), ("se", -1, -1))
    val tagArr = array(tags.map { case (t, sx, sy) =>
      struct(lit(t).as("tag"), lit(sx).as("sx"), lit(sy).as("sy")) }: _*)
    val scattered = dem
      .withColumn("_ix", g.xIdx(col(Dim.X)))
      .withColumn("_iy", g.yIdx(col(Dim.Y)))
      .withColumn("_t", explode(tagArr))
      .select(others ++ Seq(
        (col("_ix") + col("_t.sx")).as("_tx"),
        (col("_iy") + col("_t.sy")).as("_ty"),
        col("_t.tag").as("_tag"), col(Cube.ValueCol)): _*)
    val corners = scattered
      .groupBy(others :+ col("_tx") :+ col("_ty"): _*)
      .pivot("_tag", Seq("nw", "ne", "sw", "se"))
      .agg(first(col(Cube.ValueCol)))
      .crossJoin(liaDf)
    val nw = col("nw").cast("double"); val ne = col("ne").cast("double")
    val sw = col("sw").cast("double"); val se = col("se").cast("double")
    // reference's range slope (openeo_odc_driver.py:1469-1471):
    val hRg0 = nw + (sw - nw) / (2 * dy) * (dy - dyP)
    val hRg2 = ne + (se - ne) / (2 * dy) * (dy + dyP)
    val incHRg = hRg2 - hRg0
    val resFDeg = atan(incHRg / drg) * lit(rgSign) * lit(180.0 / math.Pi)
    val complete = nw.isNotNull && ne.isNotNull && sw.isNotNull && se.isNotNull
    val f = when(complete, resFDeg).otherwise(lit(0.0))
    val fore = when(f > 0 && f < liaMean, f / liaMean).otherwise(0.0)
    val lay = when(f > 0 && f > liaMean, f / liaMean).otherwise(0.0)
    val layMask = when(lay > layoverTh, 1.0).otherwise(0.0)
    val foreMask = when(fore > foreshorteningTh, 1.0).otherwise(0.0)
    val shadowMask = when(f < 0 && abs(f) > (lit(90.0) - liaMean), 1.0).otherwise(0.0)
    val base = corners
      .withColumn(Dim.X, g.xCoord(col("_tx")))
      .withColumn(Dim.Y, g.yCoord(col("_ty")))
    val masks = base.select(
      (others :+ col(Dim.Y) :+ col(Dim.X)) :+
        explode(array(
          struct(lit("1").as(Dim.Band), layMask.as(Cube.ValueCol)),
          struct(lit("2").as(Dim.Band), foreMask.as(Cube.ValueCol)),
          struct(lit("3").as(Dim.Band), shadowMask.as(Cube.ValueCol)))).as("_m"): _*)
      .select((others :+ col(Dim.Y) :+ col(Dim.X) :+
        col("_m.band") :+ col("_m.value")): _*)
    Cube(masks, c.meta.copy(bandOrder = Seq("1", "2", "3")))
  }
}
