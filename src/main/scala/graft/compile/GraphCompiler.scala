package graft.compile

import com.fasterxml.jackson.databind.JsonNode
import graft.cube.{Cube, Dim}
import graft.functions.CurveFit
import graft.graph.ProcessGraph
import graft.graph.ProcessGraph._
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** openEO process graph → Spark plan compiler.
  *
  * Replaces the reference's 1700-line runtime dispatcher
  * (openeo_odc_driver/openeo_odc_driver.py:122-1840) with a compile step:
  * nodes execute in topological order, but every "execution" only COMPOSES
  * a DataFrame plan — nothing materializes until the caller acts on the
  * result. Catalyst then fuses the whole graph (scan pushdown through every
  * filter node, codegen across all element-wise nodes) — the cross-node
  * optimization the reference delegates to Dask graph construction.
  *
  * Element-wise processes (M1-M15) come from one table,
  * [[GraphCompiler.scalarOpByName]], in every position: a cube-level node
  * (an all-literal one folds on the driver), and the child process graphs
  * one callback walker compiles to a `Column` — apply callbacks, overlap
  * resolvers, band reducers and fit_curve models, which differ only in how
  * their leaves bind. Named-reducer callbacks compile to reducer names.
  * This is the typed replacement for the reference's string-codegen +
  * deferred-name convention (openeo_odc_driver.py:228-278, 535).
  *
  * Intermediate values (the reference's `partialResults` dict,
  * openeo_odc_driver.py:87): Cube | scalar (Double, Boolean) | String
  * reducer name | DataFrame (zonal stats / fit params).
  */
final class GraphCompiler(
    spark: SparkSession,
    catalog: Map[String, Scan.CollectionSpec],
    resultRoot: String = "/tmp/graft-results",
    tables: Map[String, String] = Map.empty) {

  import GraphCompiler._

  def compile(json: String): Any = run(ProcessGraph.parse(json))

  /** Execute (= compose) a parsed graph; returns the result node's value. */
  def run(graph: ProcessGraph): Any = {
    val results = scala.collection.mutable.Map[String, Any]()
    graph.topoSorted.foreach { n =>
      results(n.id) = processNode(n, graph, results)
    }
    results(graph.resultNode.id)
  }

  // ------------------------------------------------------------ argument eval

  private def resolve(a: Arg, results: collection.Map[String, Any]): Any = a match {
    case FromNode(id)   => results(id)
    case LitArg(v)      => lit2scala(v)
    case ArrayArg(xs)   => xs.map(resolve(_, results))
    case SubGraph(g)    => g
    case FromParameter(p) => throw new IllegalArgumentException(
      s"from_parameter '$p' outside a callback scope")
  }

  private def lit2scala(v: JsonNode): Any =
    if (v.isNumber) v.asDouble()
    else if (v.isTextual) v.asText()
    else if (v.isBoolean) v.asBoolean()
    else if (v.isNull) null
    else if (v.isArray) v.elements().asScala.toSeq.map(lit2scala)
    else v // raw JsonNode (objects: spatial_extent etc.)

  private def cubeArg(n: Node, name: String, results: collection.Map[String, Any]): Cube =
    resolve(n.arguments(name), results) match {
      case c: Cube => c
      case other => throw new IllegalArgumentException(
        s"${n.processId}.$name: expected cube, got $other")
    }

  private def dfArg(n: Node, name: String,
      results: collection.Map[String, Any]): DataFrame =
    resolve(n.arguments(name), results) match {
      case df: DataFrame => df
      case c: Cube => c.df
      case other => throw new IllegalArgumentException(
        s"${n.processId}.$name: expected table, got $other")
    }

  private def strSeq(n: Node, name: String,
      results: collection.Map[String, Any],
      default: Seq[String]): Seq[String] =
    n.arguments.get(name).map(resolve(_, results)).collect {
      case xs: Seq[_] => xs.map(_.toString)
    }.getOrElse(default)

  /** openEO-style fractions object ({"train": 0.8, ...}) in DOCUMENT
    * order — split bounds are cumulative, so order is semantic. */
  private def fractionsArg(n: Node): Seq[(String, Double)] =
    n.arguments.get("fractions").collect {
      case LitArg(v) if v.isObject =>
        v.properties().asScala.toSeq.map { e =>
          e.getKey -> e.getValue.asDouble()
        }
    }.getOrElse(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  private def optD(n: Node, name: String, results: collection.Map[String, Any]): Option[Double] =
    n.arguments.get(name).map(resolve(_, results)).collect { case d: Double => d }

  private def optS(n: Node, name: String, results: collection.Map[String, Any]): Option[String] =
    n.arguments.get(name).map(resolve(_, results)).collect { case s: String => s }

  /** Multimodal codec by name — "fake" (deterministic stub), or the
    * real "bmp"/"png"/"wav"/"jpeg" byte codecs. */
  private def codecArg(n: Node,
      r: collection.Map[String, Any]): graft.multimodal.Multimodal.Codec =
    optS(n, "codec", r).getOrElse("fake") match {
      case "fake" => graft.multimodal.Multimodal.FakeCodec
      case "bmp" => graft.multimodal.Multimodal.BmpCodec
      case "png" => graft.multimodal.Multimodal.PngCodec
      case "wav" => graft.multimodal.Multimodal.WavCodec
      case "jpeg" => graft.multimodal.Multimodal.JpegCodec
      case other => throw graft.OpenEoError("CodecUnknown",
        s"unknown multimodal codec '$other' (fake, bmp, png, wav)")
    }

  /** merge_into clause expression: SQL text over the merge's joined
    * row — target columns bare, source columns as `source.<col>`.
    * The `source.` qualifier re-spells to [[Snapshots.MergeSrcPrefix]]
    * on the PARSED tree (an UnresolvedAttribute transform — string
    * substitution could corrupt literals). */
  private def mergeClauseExpr(sql: String): org.apache.spark.sql.Column = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val rewritten = parsed.transform {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if ua.nameParts.length == 2 &&
            ua.nameParts.head.equalsIgnoreCase("source") =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(Snapshots.MergeSrcPrefix + ua.nameParts(1))
    }
    org.apache.spark.sql.graft.Bridge.column(rewritten)
  }

  // --------------------------------------------------------------- dispatcher

  private def processNode(n: Node, g: ProcessGraph,
      results: collection.Map[String, Any]): Any = {
    val r = results
    n.processId match {
      // ---- scan (S1-S3) + resample folding (§4.1) ----
      case "load_collection" => loadCollection(n, g, r)
      case "resample_spatial" =>
        // folded into the scan at load time (openeo_odc_driver.py:175-202,
        // 223-225): execution is a pass-through
        cubeArg(n, "data", r)
      case "load_result" =>
        // a prior job's artifact: the canonical parquet store by id, or
        // — when the id names a .nc rendition (the reference reloads
        // NetCDF, openeo_odc_driver.py:1598-1609) — the V2 source, so
        // the reload scan gets plane partitioning + pushdown like any
        // other collection read
        val id = optS(n, "id", r).get
        if (id.endsWith(".nc"))
          Cube(spark.read.format("graft-netcdf").load(s"$resultRoot/$id"))
        else Scan.loadResult(spark, resultRoot, id)

      // ---- filters (F1-F6) ----
      case "filter_temporal" =>
        val ext = extentPair(n.arguments("extent"), r)
        Filters.filterTemporal(cubeArg(n, "data", r), ext._1, ext._2)
      case "filter_bands" =>
        val bands = resolve(n.arguments("bands"), r)
          .asInstanceOf[Seq[Any]].map(_.toString)
        Filters.filterBands(cubeArg(n, "data", r), bands)
      case "filter_bbox" =>
        val e = n.arguments("extent") match {
          case LitArg(v) => v
          case other => throw new IllegalArgumentException(s"filter_bbox extent: $other")
        }
        // crs may be a numeric EPSG code, an "EPSG:NNNN" string, or a full
        // proj-string — the reference hands all three to pyproj
        val bboxCrs = Option(e.get("crs")).map { c =>
          if (c.isNumber) graft.ops.EpsgRef(c.asInt)
          else graft.ops.CrsRef.parse(c.asText)
        }.getOrElse(graft.ops.EpsgRef(4326))
        Filters.filterBboxRef(cubeArg(n, "data", r),
          west = e.get("west").asDouble, south = e.get("south").asDouble,
          east = e.get("east").asDouble, north = e.get("north").asDouble,
          bboxCrs = bboxCrs)
      case "filter_spatial" =>
        Filters.filterSpatialRef(cubeArg(n, "data", r),
          geoJsonRings(n.arguments("geometries")), graft.ops.EpsgRef(4326))
      case "array_element" =>
        // top-level use (band selection); in-callback use is handled by
        // the expression compiler below
        Filters.arrayElement(cubeArg(n, "data", r),
          optS(n, "label", r), optD(n, "index", r).map(_.toInt))
      case "mask" =>
        Filters.mask(cubeArg(n, "data", r), cubeArg(n, "mask", r),
          optD(n, "replacement", r))

      // ---- parents adopting a child callback (R3 / A1 / A6 / M-ops) ----
      case "reduce_dimension" =>
        val c = cubeArg(n, "data", r)
        val dim = Dim.canonical(optS(n, "dimension", r).get)
        reduceWithCallback(c, dim, subGraph(n, "reducer"))
      case "apply" =>
        val c = cubeArg(n, "data", r)
        c.mapValue(v => callback(subGraph(n, "process"), Map("x" -> v)))
      case "run_udf" =>
        // element-wise UDF source compiled to a Column expression — see
        // UdfCompiler (the reference ships chunks to an R pool instead,
        // openeo_odc_driver.py:282-339)
        val src = udfSource(n)
        // context keys chunk_size / num_jobs / vectorized
        // (openeo_odc_driver.py:304-316): validated for type errors so
        // reference graphs run unchanged, but advisory here — they steer
        // the reference's joblib chunking, which Catalyst's partitioning
        // supersedes (a chunked re-shuffle would only slow the plan down)
        n.arguments.get("context").foreach(validateRunUdfContext)
        val c = cubeArg(n, "data", r)
        c.mapValue(v => UdfCompiler.compile(src, v))
      case "apply_dimension" =>
        val c = cubeArg(n, "data", r)
        val dim = Dim.canonical(optS(n, "dimension", r).getOrElse("time"))
        applyDimension(c, dim, subGraph(n, "process"),
          optS(n, "target_dimension", r))
      case "apply_kernel" =>
        val kernel = resolve(n.arguments("kernel"), r).asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double]))
        // numeric border is openEO shorthand for constant-fill with that
        // value (openeo_odc_driver.py:1405-1415)
        val (borderMode, cval) = n.arguments.get("border").map(resolve(_, r)) match {
          case Some(d: Double) => ("constant", d)
          case Some(s: String) => (s, 0.0)
          case _               => ("reflect", 0.0)
        }
        Neighborhood.applyKernel(cubeArg(n, "data", r), kernel,
          factor = optD(n, "factor", r).getOrElse(1.0),
          border = borderMode,
          cval = cval,
          replaceInvalid = optD(n, "replace_invalid", r).getOrElse(0.0))

      // ---- aggregations (A3-A8) ----
      case "aggregate_temporal_period" =>
        Reducers.aggregateTemporalPeriod(cubeArg(n, "data", r),
          optS(n, "period", r).get, callbackReducerName(subGraph(n, "reducer")))
      case "apply_neighborhood" =>
        // openEO-core focal window the reference lacks (it only has the
        // convolution apply_kernel): square window of `size` over the
        // spatial dims, reduced by the callback's named reducer —
        // compiled to the focal-stats scatter (one shuffle on the pixel
        // key, no per-cell loop)
        val size = n.arguments.get("size").map(a => resolve(a, r)) match {
          case Some(d: Double) => d.toInt
          case Some(s2: Seq[_]) =>
            // list form: every per-dimension extent must agree — only
            // square windows compile to the focal scatter; silently
            // using the first element would compute a WRONG neighborhood
            val sizes = s2.map {
              case d: Double => d.toInt
              case other => throw new IllegalArgumentException(
                s"apply_neighborhood size element: $other")
            }
            require(sizes.nonEmpty && sizes.distinct.length == 1,
              s"apply_neighborhood: only square windows supported, " +
                s"got $sizes")
            sizes.head
          case other => throw new IllegalArgumentException(
            s"apply_neighborhood size: $other")
        }
        require(size % 2 == 1 && size >= 3,
          s"apply_neighborhood: size must be odd >= 3, got $size")
        Neighborhood.focalStats(cubeArg(n, "data", r), radius = size / 2,
          stat = callbackReducerName(subGraph(n, "process")))
      case "aggregate_temporal" =>
        // openEO-core sibling the reference lacks: arbitrary (possibly
        // overlapping) [start, end) intervals, labels = interval starts.
        // JSON arrays parse to ArrayArg, so go through resolve (NOT a
        // LitArg match, which can never fire for arrays).
        val ivs = resolve(n.arguments.getOrElse("intervals",
          throw new IllegalArgumentException(
            "aggregate_temporal: missing intervals")), r) match {
          case xs: Seq[_] => xs.map {
            case p: Seq[_] if p.length == 2 =>
              (p.head.toString, p(1).toString)
            case other => throw new IllegalArgumentException(
              s"aggregate_temporal: each interval is [start, end], got $other")
          }
          case other => throw new IllegalArgumentException(
            s"aggregate_temporal intervals: $other")
        }
        Reducers.aggregateTemporal(cubeArg(n, "data", r), ivs,
          callbackReducerName(subGraph(n, "reducer")))
      case "aggregate_spatial_window" =>
        val Seq(sx, sy) = resolve(n.arguments("size"), r)
          .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double].toInt)
        Reducers.aggregateSpatialWindow(cubeArg(n, "data", r), sx, sy,
          callbackReducerName(subGraph(n, "reducer")),
          optS(n, "boundary", r).getOrElse("trim"))
      case "aggregate_spatial" =>
        Reducers.aggregateSpatial(cubeArg(n, "data", r),
          geoJsonRings(n.arguments("geometries")),
          callbackReducerName(subGraph(n, "reducer")))
      case "climatological_normal" =>
        Reducers.climatologicalNormal(cubeArg(n, "data", r))
      case "anomaly" =>
        val normals = resolve(n.arguments("normals"), r) match {
          case ds: org.apache.spark.sql.Dataset[_] => ds.toDF()
          case c: Cube => c.df
          case other => throw new IllegalArgumentException(s"anomaly normals: $other")
        }
        Reducers.anomaly(cubeArg(n, "data", r), normals)

      // ---- joins / alignment (J1-J3) ----
      case "merge_cubes" =>
        val resolver = n.arguments.get("overlap_resolver").collect {
          case SubGraph(sg) => (x: Column, y: Column) =>
            callback(sg, Map("x" -> x, "y" -> y, "cube1" -> x, "cube2" -> y))
        }
        Joins.mergeCubes(cubeArg(n, "cube1", r), cubeArg(n, "cube2", r), resolver)
      case "resample_cube_temporal" =>
        Joins.resampleCubeTemporal(cubeArg(n, "data", r), cubeArg(n, "target", r))
      case "resample_cube_spatial" =>
        val target = cubeArg(n, "target", r)
        val data = cubeArg(n, "data", r)
        optS(n, "method", r).getOrElse("near") match {
          case "near" | "nearest" =>
            Joins.resampleCubeSpatialNearest(data, target.meta.requireGrid)
          case "bilinear" =>
            Joins.resampleCubeSpatialBilinear(data, target.meta.requireGrid)
          case "cubic" =>
            Joins.resampleCubeSpatialCubic(data, target.meta.requireGrid)
          case other => throw new IllegalArgumentException(
            s"resample_cube_spatial: unsupported method '$other'")
        }

      // ---- labels (R1, R2) ----
      case "rename_labels" =>
        val c = cubeArg(n, "data", r)
        val target = resolve(n.arguments("target"), r)
          .asInstanceOf[Seq[Any]].map(_.toString)
        val source = n.arguments.get("source")
          .map(resolve(_, r).asInstanceOf[Seq[Any]].map(_.toString))
          .getOrElse(Nil)
        Dim.canonical(optS(n, "dimension", r).getOrElse("bands")) match {
          case Dim.Band => Labels.renameBandLabels(c, target, source)
          case Dim.Time => Labels.renameTimeLabels(c, target)
          case d => throw new IllegalArgumentException(
            s"rename_labels on dimension $d not supported (reference parity)")
        }
      case "add_dimension" =>
        Labels.addDimension(cubeArg(n, "data", r), optS(n, "label", r).get)
      case "drop_dimension" =>
        Labels.dropDimension(cubeArg(n, "data", r), optS(n, "name", r).get)

      // ---- interpolation / curve fitting (W2, A9, A10) ----
      case "array_interpolate_linear" =>
        Neighborhood.interpolateLinear(cubeArg(n, "data", r), "time")
      case "fit_curve" =>
        CurveFit.fitCurve(cubeArg(n, "data", r), model(subGraph(n, "function")))
      case "predict_curve" =>
        val params = resolve(n.arguments("parameters"), r) match {
          case ds: org.apache.spark.sql.Dataset[_] => ds.toDF()
          case other => throw new IllegalArgumentException(s"predict_curve parameters: $other")
        }
        CurveFit.predictCurve(cubeArg(n, "data", r), params,
          model(subGraph(n, "function")))

      // ---- SAR2Cube (D1, D2) ----
      case "geocode" =>
        Sar2Cube.geocode(cubeArg(n, "data", r),
          targetEpsg = optD(n, "crs", r).map(_.toInt).getOrElse(32632),
          resolution = optD(n, "resolution", r).getOrElse(10.0),
          // "near" (default) = bin-argmin + IDW pinhole fill; "linear" =
          // the reference's Delaunay tier (hull-masked nearest)
          method = optS(n, "method", r).getOrElse("near"))
      case "radar_mask" =>
        Sar2Cube.radarMask(cubeArg(n, "data", r),
          foreshorteningTh = optD(n, "foreshortening_th", r).getOrElse(0.0),
          layoverTh = optD(n, "layover_th", r).getOrElse(0.0),
          orbitDirection = optS(n, "orbit_direction", r).getOrElse("ASC"))

      // ---- table processes: the LLM-curation tier through the graph
      // surface. The reference's one query language is this JSON graph;
      // these processes drive graft.text's curation operators over plain
      // tables (documents shape: doc_id, lang, source, text), compiling
      // to the IDENTICAL plans as the Scala API — the stage bodies are
      // the shared graft.text.Curation definitions. ----
      case "load_table" =>
        val id = optS(n, "id", r).getOrElse(throw graft.OpenEoError(
          "TableIdMissing", "load_table needs an 'id' argument"))
        val path = tables.getOrElse(id, throw graft.OpenEoError(
          "TableNotFound",
          s"table '$id' not in this compiler's table catalog " +
            s"(${tables.keys.toSeq.sorted.mkString(", ")})"))
        Tables.read(spark, path)
      case "load_snapshot" =>
        // lakehouse tier on the graph surface: a snapshot-table read,
        // optionally pinned (`version_as_of`) and optionally filtered
        // (`where`, a SQL boolean expression). The filtered form runs
        // through [[Snapshots.scanWhere]], so manifest min/max stats AND
        // exact partition pins prune files at planning time exactly as
        // the Scala API does — the graph surface pays the same O(log)
        // planning cost, never a table scan it didn't ask for.
        val spath = optS(n, "path", r).getOrElse(throw graft.OpenEoError(
          "SnapshotPathMissing", "load_snapshot needs a 'path' argument"))
        // version_as_of pins a version; timestamp_as_of (epoch millis)
        // resolves one via the strictly monotonic in-commit timestamps —
        // mutually exclusive like Delta's reader options
        val verPin = optD(n, "version_as_of", r).map(_.toLong)
        val tsPin = optD(n, "timestamp_as_of", r).map(_.toLong)
        if (verPin.isDefined && tsPin.isDefined) throw graft.OpenEoError(
          "SnapshotPinConflict",
          "load_snapshot takes version_as_of OR timestamp_as_of, not both")
        val ver = tsPin match {
          case Some(ts) => Some(Snapshots.versionAtTimestamp(spark, spath, ts)
            .getOrElse(throw graft.OpenEoError("SnapshotTimestampTooEarly",
              s"no commit at or before timestamp $ts at $spath")))
          case None => verPin
        }
        optS(n, "where", r) match {
          case Some(w) => Snapshots.scanWhere(spark, spath, expr(w), ver)
          case None => Snapshots.read(spark, spath, ver)
        }
      case "snapshot_changes" =>
        // incremental consumption on the graph surface: exactly the
        // rows versions (from_exclusive, to_inclusive] added
        val spath = optS(n, "path", r).getOrElse(throw graft.OpenEoError(
          "SnapshotPathMissing",
          "snapshot_changes needs a 'path' argument"))
        Snapshots.changes(spark, spath,
          optD(n, "from_exclusive", r).getOrElse(throw graft.OpenEoError(
            "SnapshotRangeMissing",
            "snapshot_changes needs 'from_exclusive'")).toLong,
          optD(n, "to_inclusive", r).getOrElse(throw graft.OpenEoError(
            "SnapshotRangeMissing",
            "snapshot_changes needs 'to_inclusive'")).toLong)
      case "snapshot_change_feed" =>
        // the COMBINED row-level change feed (the Delta readChangeFeed
        // shape) on the graph surface: inserts from every add, deletes
        // from every merge-on-read commit's fresh vector positions,
        // each row stamped _change_type / _commit_version
        val spath = optS(n, "path", r).getOrElse(throw graft.OpenEoError(
          "SnapshotPathMissing",
          "snapshot_change_feed needs a 'path' argument"))
        Snapshots.changeFeed(spark, spath,
          optD(n, "from_exclusive", r).getOrElse(throw graft.OpenEoError(
            "SnapshotRangeMissing",
            "snapshot_change_feed needs 'from_exclusive'")).toLong,
          optD(n, "to_inclusive", r).getOrElse(throw graft.OpenEoError(
            "SnapshotRangeMissing",
            "snapshot_change_feed needs 'to_inclusive'")).toLong)
      case "snapshot_deleted_rows" =>
        // the row-level DELETE feed on the graph surface: exactly the
        // rows a merge-on-read commit removed — the delete half of
        // row-level CDC, pairing with snapshot_changes' adds feed
        val spath = optS(n, "path", r).getOrElse(throw graft.OpenEoError(
          "SnapshotPathMissing",
          "snapshot_deleted_rows needs a 'path' argument"))
        Snapshots.deletedRows(spark, spath,
          optD(n, "version", r).getOrElse(throw graft.OpenEoError(
            "SnapshotVersionMissing",
            "snapshot_deleted_rows needs 'version'")).toLong)
      case "apply_change_feed" =>
        // the CDC consumer on the graph surface: keyed state + a
        // change-feed slice → the table at the slice's end (newest
        // commit wins per key, preimages informational) — graph ==
        // API parity with Snapshots.applyChangeFeed
        val keys = strSeq(n, "keys", r, default = Nil)
        if (keys.isEmpty) throw graft.OpenEoError("ChangeFeedKeysMissing",
          "apply_change_feed needs a non-empty 'keys' list")
        Snapshots.applyChangeFeed(dfArg(n, "base", r),
          dfArg(n, "feed", r), keys)
      case "merge_changes" =>
        // the steady-state mirror primitive on the graph surface: fold
        // one change batch into the keyed table at 'path' (one atomic
        // file-pruned CoW commit, newest change wins per key) and
        // return the table's resulting content
        val keys = strSeq(n, "keys", r, default = Nil)
        if (keys.isEmpty) throw graft.OpenEoError("ChangeFeedKeysMissing",
          "merge_changes needs a non-empty 'keys' list")
        val spath = optS(n, "path", r).getOrElse(throw graft.OpenEoError(
          "SnapshotPathMissing", "merge_changes needs a 'path' argument"))
        Snapshots.mergeChanges(spark, spath, dfArg(n, "changes", r), keys)
        Snapshots.read(spark, spath)
      case "merge_into" =>
        // general MERGE INTO on the graph surface — ordered clause
        // lists as JSON (condition / set / values as SQL expression
        // strings; source columns referenced as `source.<col>`, which
        // re-spells to the engine's merge-source namespace by parsing,
        // never by string substitution); returns the table's resulting
        // content. Engine semantics documented at Snapshots.mergeInto.
        val keys = strSeq(n, "keys", r, default = Nil)
        if (keys.isEmpty) throw graft.OpenEoError("MergeKeysMissing",
          "merge_into needs a non-empty 'keys' list")
        val spath = optS(n, "path", r).getOrElse(throw graft.OpenEoError(
          "SnapshotPathMissing", "merge_into needs a 'path' argument"))
        // JSON arrays parse to ArrayArg — resolve, then keep the raw
        // clause objects (lit2scala passes objects through as JsonNode).
        // A PRESENT argument that is not an array of objects fails
        // typed: coercing it to Nil would silently drop the clause
        // family and commit a wrong table state (e.g. the easy mistake
        // of sending one clause object instead of a one-element array)
        def clauseList(name: String): Seq[JsonNode] =
          n.arguments.get(name) match {
            case None => Nil
            case Some(a) => resolve(a, r) match {
              case xs: Seq[_]
                  if xs.forall(_.isInstanceOf[JsonNode]) =>
                xs.map(_.asInstanceOf[JsonNode])
              case other => throw graft.OpenEoError("MergeClauseInvalid",
                s"merge_into '$name' must be a JSON array of clause " +
                  s"objects; got $other")
            }
          }
        def mcond(c: JsonNode): Option[org.apache.spark.sql.Column] =
          Option(c.get("condition")).filterNot(_.isNull)
            .map(x => mergeClauseExpr(x.asText()))
        def massigns(c: JsonNode, field: String)
            : Option[Map[String, org.apache.spark.sql.Column]] =
          Option(c.get(field)).filterNot(_.isNull).map(m =>
            m.properties().asScala.map(e =>
              e.getKey -> mergeClauseExpr(e.getValue.asText())).toMap)
        def isDelete(c: JsonNode): Boolean =
          Option(c.get("delete")).exists(_.asBoolean(false))
        def updOrDel(c: JsonNode, proc: String): Snapshots.MergeAction =
          if (isDelete(c)) Snapshots.MergeDelete
          else Snapshots.MergeUpdate(massigns(c, "set").getOrElse(
            throw graft.OpenEoError("MergeClauseInvalid",
              s"$proc clause needs 'set' assignments or 'delete': true")))
        val mergeSrc = dfArg(n, "source", r)
        // `"schema_evolution": true` — parity with MERGE WITH SCHEMA
        // EVOLUTION: source-only columns widen the table as one
        // append-evolution metadata commit (nullable; old rows read
        // null), exactly the two-commit shape the SQL face gets from
        // Spark's analyzer. A PRESENT argument that is not a boolean
        // fails typed (the clauseList rule — coercion could silently
        // disable evolution and commit a wrong state).
        val evolve = n.arguments.get("schema_evolution") match {
          case None => false
          case Some(a) => resolve(a, r) match {
            case b: Boolean => b
            case other => throw graft.OpenEoError("MergeClauseInvalid",
              s"merge_into 'schema_evolution' must be a boolean; " +
                s"got $other")
          }
        }
        // parse and validate EVERY clause BEFORE the widening commit —
        // a malformed clause must leave the table untouched (the
        // leaves-nothing-behind rule the SQL face gets from analysis
        // ordering)
        val mMatched = clauseList("matched").map(c =>
          Snapshots.WhenMatched(mcond(c), updOrDel(c, "matched")))
        val mNotMatched = clauseList("not_matched").map(c =>
          Snapshots.WhenNotMatched(mcond(c),
            massigns(c, "values").getOrElse(throw graft.OpenEoError(
              "MergeClauseInvalid",
              "not_matched clause needs 'values' assignments"))))
        val mBySource = clauseList("not_matched_by_source").map(
          c => Snapshots.WhenNotMatchedBySource(mcond(c),
            updOrDel(c, "not_matched_by_source")))
        if (evolve) {
          // detection is case-INSENSITIVE (SQL resolution is) — a
          // case-variant duplicate column would brick every later
          // read with AMBIGUOUS_REFERENCE. The widening batch carries
          // the SOURCE schema and lets the ENGINE's append-evolution
          // compute the union: shared-column type mismatches get its
          // typed guard instead of silently slipping through.
          val cur = Snapshots.read(spark, spath).schema
          val newCols = mergeSrc.schema.fields.filterNot(f =>
            cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          if (newCols.nonEmpty)
            Snapshots.append(spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              mergeSrc.schema), spath)
        }
        Snapshots.mergeInto(spark, spath, mergeSrc, keys,
          matched = mMatched, notMatched = mNotMatched,
          notMatchedBySource = mBySource)
        Snapshots.read(spark, spath)
      case "table_changes" =>
        // the TVF face (graft_table_changes) on the graph surface:
        // unlike snapshot_change_feed's raw path argument, 'target'
        // also accepts a catalog identifier (cat.db.t) resolved
        // through the SAME warehouse-conf + segment validation as the
        // SQL TVF — process == TVF parity, one changeFeed planner
        val target = optS(n, "target", r).getOrElse(throw graft.OpenEoError(
          "TableChangesTargetMissing",
          "table_changes needs a 'target' argument (path or " +
            "catalog identifier)"))
        val resolved0 =
          try graft.functions.SnapshotTableFunctions
            .resolveTarget(spark, target)
          catch { case e: IllegalArgumentException =>
            throw graft.OpenEoError("TableChangesTargetInvalid",
              e.getMessage) }
        Snapshots.changeFeed(spark, resolved0,
          optD(n, "from_version", r).getOrElse(throw graft.OpenEoError(
            "SnapshotRangeMissing",
            "table_changes needs 'from_version'")).toLong,
          optD(n, "to_version", r).getOrElse(throw graft.OpenEoError(
            "SnapshotRangeMissing",
            "table_changes needs 'to_version'")).toLong)
      case "call_procedure" =>
        // SQL stored procedures on the graph surface: compiles to the
        // session's own `CALL <catalog>.system.<procedure>(...)`
        // statement, so the process shares the ENTIRE procedure stack
        // (ProcedureCatalog load, parameter binding/defaults, typed
        // errors) with the SQL face. Names are validated to identifier
        // characters and string values single-quote-escaped — graph
        // payloads are data, never spliced SQL.
        // matches(), not findFirstIn: Java's $ matches BEFORE a final
        // line terminator, so find() would pass "history\n" through
        val ident = java.util.regex.Pattern.compile("[A-Za-z0-9_]+")
        def checkedName(v: String, what: String): String = {
          if (!ident.matcher(v).matches()) throw graft.OpenEoError(
            "ProcedureNameInvalid",
            s"call_procedure $what '$v' must match [A-Za-z0-9_]+")
          v
        }
        val pcat = checkedName(optS(n, "catalog", r).getOrElse(
          throw graft.OpenEoError("ProcedureCatalogMissing",
            "call_procedure needs a 'catalog' argument")), "catalog")
        val proc = checkedName(optS(n, "procedure", r).getOrElse(
          throw graft.OpenEoError("ProcedureMissing",
            "call_procedure needs a 'procedure' argument")), "procedure")
        val argsSql = n.arguments.get("args") match {
          case None => ""
          case Some(a) => resolve(a, r) match {
            case jn: JsonNode if jn.isObject =>
              jn.properties().asScala.toSeq.map { e =>
                val k = checkedName(e.getKey, "argument name")
                val v = e.getValue
                val rendered =
                  if (v.isNumber) v.numberValue().toString
                  else if (v.isBoolean) v.asBoolean().toString
                  else if (v.isTextual) {
                    // escaping must match the SESSION's parser mode:
                    // default (escapedStringLiterals=false) treats
                    // backslash as an escape — a value ending in \
                    // would swallow the closing quote, so double it;
                    // legacy mode treats backslash literally — doubling
                    // would corrupt the value. Quote-DOUBLING ('')
                    // escapes the quote under BOTH modes.
                    val legacy = spark.conf
                      .get("spark.sql.parser.escapedStringLiterals",
                        "false").toBoolean
                    val raw = v.asText()
                    val bs = if (legacy) raw
                             else raw.replace("\\", "\\\\")
                    "'" + bs.replace("'", "''") + "'"
                  }
                  else throw graft.OpenEoError("ProcedureArgInvalid",
                    s"call_procedure argument '$k' must be a string, " +
                      s"number or boolean; got $v")
                s"`$k` => $rendered"
              }.mkString(", ")
            case other => throw graft.OpenEoError("ProcedureArgInvalid",
              s"call_procedure 'args' must be a JSON object; got $other")
          }
        }
        spark.sql(s"CALL `$pcat`.system.`$proc`($argsSql)")
      case "text_quality_gate" =>
        graft.text.Curation.qualityGate(dfArg(n, "data", r),
          minQuality = optD(n, "min_quality", r).getOrElse(0.75),
          maxRepetition = optD(n, "max_repetition", r).getOrElse(0.2))
      case "dedup_exact" =>
        graft.text.Curation.dedupExactKeepMin(dfArg(n, "data", r))
      case "dedup_near" =>
        graft.text.Curation.nearDupCanonical(dfArg(n, "data", r),
          blocking = strSeq(n, "blocking", r,
            default = Seq("lang", "source")),
          shingleN = optD(n, "shingle_n", r).getOrElse(3.0).toInt,
          threshold = optD(n, "threshold", r).getOrElse(0.5))
      case "lm_score" =>
        // corpus bigram-LM perplexity scoring (q_lm_perplexity's exact
        // formulation: one gram explode feeds training AND scoring)
        val d = dfArg(n, "data", r)
        val grams = d.select(col("doc_id"),
            explode(graft.text.LanguageModel.bigrams(col("text")))
              .as("gram"))
          .localCheckpoint(true)
        val lm = graft.text.LanguageModel.trainBigramLmFromGrams(grams,
          minCount = optD(n, "min_count", r).getOrElse(1.0).toLong)
        val scored = graft.text.LanguageModel
          .scoreBigramLmFromGrams(grams, lm, "doc_id")
        // optional gate: keep docs under the nll ceiling, joined back to
        // the full document shape for downstream stages
        optD(n, "max_avg_nll", r) match {
          case Some(ceil) => d.join(
            scored.where(col("avg_nll") <= ceil).select("doc_id"),
            Seq("doc_id"), "left_semi")
          case None => scored
        }
      case "split_grouped" =>
        graft.text.Curation.groupedSplit(dfArg(n, "data", r),
          fractions = fractionsArg(n))
      case "token_stats" =>
        graft.text.Curation.tokenStats(dfArg(n, "data", r),
          by = strSeq(n, "by", r, default = Seq("split", "lang")))
      case "pii_redact" =>
        // in-place text redaction keeping the document shape; the output
        // MATERIALIZES (narrow checkpoint) because any downstream gate's
        // deterministic filter would otherwise be pushed below this
        // projection and re-evaluate the regex chain twice — the v2
        // curation DAG's measured double-eval lesson (BENCH_NOTES r4)
        val d = dfArg(n, "data", r)
        val tc = optS(n, "text_column", r).getOrElse("text")
        val redacted = graft.text.TextAnalysis.piiPatterns
          .foldLeft(col(tc)) { case (acc, (_, pat, repl)) =>
            regexp_replace(acc, pat, repl) }
        d.withColumn(tc, redacted).localCheckpoint(true)
      case "gopher_gate" =>
        // the v2 DAG's Gopher-lite gate: word-count floor + stopword
        // presence (cheap one-pass expressions — a plain filter)
        val d = dfArg(n, "data", r)
        val tc = optS(n, "text_column", r).getOrElse("text")
        val words = graft.functions.TextHashExprs.wsSplit(trim(col(tc)))
        val stopsPresent = size(filter(
          array(graft.text.TextAnalysis.gopherStops.map(lit): _*),
          w => array_contains(words, w)))
        d.where(size(words) >= optD(n, "min_words", r).getOrElse(50.0).toInt
          && stopsPresent >= optD(n, "min_stopwords", r).getOrElse(1.0).toInt)
      case "dedup_paragraph" =>
        // cross-doc paragraph dedup, document shape preserved (text
        // replaced by clean_text, other columns rejoined by id)
        val d = dfArg(n, "data", r)
        val tc = optS(n, "text_column", r).getOrElse("text")
        val idc = optS(n, "id_column", r).getOrElse("doc_id")
        val cleaned = graft.text.Dedup.dedupParagraphs(
          d.select(col(idc), col(tc)), tc, idc)
        d.drop(tc).join(
          cleaned.select(col(idc), col("clean_text").as(tc)), idc)
      case "dedup_minhash" =>
        graft.text.Dedup.minhashLsh(dfArg(n, "data", r),
          optS(n, "text_column", r).getOrElse("text"),
          optS(n, "id_column", r).getOrElse("doc_id"),
          shingleN = optD(n, "shingle_n", r).getOrElse(3.0).toInt,
          k = optD(n, "k", r).getOrElse(32.0).toInt,
          bands = optD(n, "bands", r).getOrElse(8.0).toInt,
          threshold = optD(n, "threshold", r).getOrElse(0.7))
      case "decontaminate" =>
        graft.text.Dedup.decontaminate(dfArg(n, "data", r),
          dfArg(n, "eval", r),
          optS(n, "text_column", r).getOrElse("text"),
          optS(n, "id_column", r).getOrElse("doc_id"),
          shingleN = optD(n, "shingle_n", r).getOrElse(5.0).toInt)
      case "bm25" =>
        val terms = strSeq(n, "terms", r, Nil)
        if (terms.isEmpty)
          throw graft.OpenEoError("ArgumentMissing",
            "bm25 needs a non-empty 'terms' array")
        graft.text.Search.bm25(dfArg(n, "data", r),
          optS(n, "text_column", r).getOrElse("text"),
          optS(n, "id_column", r).getOrElse("doc_id"), terms,
          k1 = optD(n, "k1", r).getOrElse(1.2),
          b = optD(n, "b", r).getOrElse(0.75))
      case "ranking_metrics" =>
        graft.text.Search.rankingMetrics(dfArg(n, "data", r),
          optS(n, "id_column", r).getOrElse("doc_id"),
          k = optD(n, "k", r).getOrElse(10.0).toInt,
          relMinTerms = optD(n, "rel_min_terms", r).getOrElse(2.0).toInt)
      case "char_entropy" =>
        graft.text.TextAnalysis.charEntropy(dfArg(n, "data", r),
          optS(n, "text_column", r).getOrElse("text"),
          optS(n, "id_column", r).getOrElse("doc_id"))
      case "apply_changelog" =>
        graft.ops.TableJoins.applyChangelog(dfArg(n, "base", r),
          dfArg(n, "changes", r),
          keys = strSeq(n, "keys", r, Nil),
          tsCol = optS(n, "ts_column", r).getOrElse("change_ts"),
          opCol = optS(n, "op_column", r).getOrElse("op"))
      case "distribution_drift" =>
        graft.text.TextAnalysis.distributionDrift(dfArg(n, "old", r),
          dfArg(n, "new", r), optS(n, "text_column", r).getOrElse("text"),
          alpha = optD(n, "alpha", r).getOrElse(0.5))
      case "drift_top_movers" =>
        graft.text.TextAnalysis.driftTopMovers(dfArg(n, "old", r),
          dfArg(n, "new", r), optS(n, "text_column", r).getOrElse("text"),
          k = optD(n, "k", r).getOrElse(20.0).toInt,
          alpha = optD(n, "alpha", r).getOrElse(0.5))
      case "sample_temperature" =>
        graft.text.Sampling.temperatureSample(dfArg(n, "data", r),
          optS(n, "source_column", r).getOrElse("source"),
          optS(n, "id_column", r).getOrElse("doc_id"),
          alpha = optD(n, "alpha", r).getOrElse(0.5),
          target = optD(n, "target", r).map(_.toLong).getOrElse(
            throw graft.OpenEoError("ArgumentMissing",
              "sample_temperature needs a 'target' document count")))
      case "sample_unimax" =>
        val budget = optD(n, "budget", r).map(_.toLong).getOrElse(
          throw graft.OpenEoError("ArgumentMissing",
            "sample_unimax needs a 'budget' document count"))
        val src = optS(n, "source_column", r).getOrElse("source")
        val idc = optS(n, "id_column", r).getOrElse("doc_id")
        optD(n, "max_epochs", r).map(_.toLong) match {
          // epoch-capped variant: up-samples small sources (adds an
          // `epoch` column); without the cap, the 1-epoch pure filter
          case Some(e) => graft.text.Sampling.unimaxSampleEpochs(
            dfArg(n, "data", r), src, idc, budget, e)
          case None => graft.text.Sampling.unimaxSample(
            dfArg(n, "data", r), src, idc, budget)
        }
      case "cap_per_group" =>
        val d = dfArg(n, "data", r)
        graft.text.Sampling.capPerGroup(d,
          strSeq(n, "group_columns", r, default = Seq("lang", "source")),
          col(optS(n, "score_column", r).getOrElse("n_chars")),
          optS(n, "id_column", r).getOrElse("doc_id"),
          k = optD(n, "k", r).getOrElse(3.0).toInt)
      case "dedup_prefix" =>
        // global (blockless) exact-Jaccard pair join via prefix filtering
        graft.text.Dedup.ngramJaccardPairsPrefix(dfArg(n, "data", r),
          optS(n, "text_column", r).getOrElse("text"),
          optS(n, "id_column", r).getOrElse("doc_id"),
          shingleN = optD(n, "shingle_n", r).getOrElse(3.0).toInt,
          threshold = optD(n, "threshold", r).getOrElse(0.5))
      case "diversify_prototypes" =>
        // D4-style per-cluster prototypicality drop over an embedding
        // table; the graph surface pins the SQL-derivable lowest-id
        // centroid convention (the seeded-hash sample and k-means
        // trained centroids stay available through the Scala API)
        val d = dfArg(n, "data", r)
        val idc = optS(n, "id_column", r).getOrElse("vec_id")
        val vc = optS(n, "vector_column", r).getOrElse("embedding")
        val k = optD(n, "n_clusters", r).getOrElse(16.0).toInt
        val w = org.apache.spark.sql.expressions.Window.orderBy(idc)
        val cents = d.orderBy(idc).limit(k).select(
          (row_number().over(w) - 1).cast("long").as("centroid_id"),
          col(vc).as("_centroid"))
        graft.text.Similarity.diversifyPrototypes(d, idc, vc,
          nClusters = k,
          dropFrac = optD(n, "drop_frac", r).getOrElse(0.25),
          centroidsOverride = Some(cents))
      case "pca_project" =>
        graft.text.Pca.pcaProject(dfArg(n, "data", r),
          optS(n, "id_column", r).getOrElse("vec_id"),
          optS(n, "vector_column", r).getOrElse("embedding"),
          dim = optD(n, "dim", r).getOrElse(64.0).toInt,
          k = optD(n, "k", r).getOrElse(2.0).toInt,
          iters = optD(n, "iterations", r).getOrElse(8.0).toInt)
      case "pca_whiten" =>
        graft.text.Pca.pcaWhitenProject(dfArg(n, "data", r),
          optS(n, "id_column", r).getOrElse("vec_id"),
          optS(n, "vector_column", r).getOrElse("embedding"),
          dim = optD(n, "dim", r).getOrElse(64.0).toInt,
          k = optD(n, "k", r).getOrElse(2.0).toInt,
          iters = optD(n, "iterations", r).getOrElse(8.0).toInt)
      case "knn_join" =>
        // IVF-blocked k-NN SELF-join; the graph surface pins the
        // SQL-derivable lowest-id centroid convention (as
        // diversify_prototypes); salt_factor engages the hot-cell shards
        val d = dfArg(n, "data", r)
        val idc = optS(n, "id_column", r).getOrElse("vec_id")
        val vc = optS(n, "vector_column", r).getOrElse("embedding")
        val nc = optD(n, "n_centroids", r).getOrElse(16.0).toInt
        val w = org.apache.spark.sql.expressions.Window.orderBy(idc)
        val cents = d.orderBy(idc).limit(nc).select(
          (row_number().over(w) - 1).cast("long").as("centroid_id"),
          col(vc).as("_centroid"))
        graft.text.Similarity.knnJoinIvf(d, idc, vc,
          k = optD(n, "k", r).getOrElse(3.0).toInt,
          nCentroids = nc,
          nProbe = optD(n, "n_probe", r).getOrElse(4.0).toInt,
          centroidsOverride = Some(cents),
          saltFactor = optD(n, "salt_factor", r).getOrElse(1.0).toInt)
      case "contamination_report" =>
        graft.text.Dedup.contaminationReport(dfArg(n, "data", r),
          dfArg(n, "eval", r),
          optS(n, "text_column", r).getOrElse("text"),
          shingleN = optD(n, "shingle_n", r).getOrElse(5.0).toInt)
      case "sample_by_weight" =>
        graft.text.Sampling.sampleByWeight(dfArg(n, "data", r),
          optS(n, "id_column", r).getOrElse("doc_id"),
          col(optS(n, "weight_column", r).getOrElse("w")))
      case "sample_weighted_k" =>
        graft.text.Sampling.sampleWeightedK(dfArg(n, "data", r),
          optS(n, "id_column", r).getOrElse("doc_id"),
          col(optS(n, "weight_column", r).getOrElse("w")),
          optD(n, "k", r).getOrElse(100.0).toInt)

      // ---- temporal table joins + storage layout (round 6) ----
      case "asof_join" =>
        graft.ops.TableJoins.asofJoin(
          dfArg(n, "left", r), dfArg(n, "right", r),
          strSeq(n, "keys", r, Seq("user_id")),
          optS(n, "left_ts", r).getOrElse("ts"),
          optS(n, "right_ts", r).getOrElse("ts"),
          strSeq(n, "payload", r, Nil),
          strict = n.arguments.get("strict").map(resolve(_, r)).contains(true),
          toleranceMicros = optD(n, "tolerance_us", r).map(_.toLong),
          forward = n.arguments.get("forward").map(resolve(_, r)).contains(true))
      case "range_join" =>
        graft.ops.TableJoins.rangeJoin(
          dfArg(n, "points", r), dfArg(n, "intervals", r),
          optS(n, "point_ts", r).getOrElse("ts"),
          optS(n, "start", r).getOrElse("window_start"),
          optS(n, "end", r).getOrElse("window_end"),
          strSeq(n, "keys", r, Nil),
          optD(n, "bin_us", r).map(_.toLong).getOrElse(3600L * 1000000L))
      case "salted_join" =>
        graft.ops.TableJoins.saltedJoin(
          dfArg(n, "left", r), dfArg(n, "right", r),
          strSeq(n, "keys", r, Seq("user_id")),
          optD(n, "salt_factor", r).getOrElse(4.0).toInt,
          optS(n, "join_type", r).getOrElse("inner"))
      case "funnel" =>
        graft.ops.Funnel.funnel(dfArg(n, "data", r),
          optS(n, "key", r).getOrElse("user_id"),
          optS(n, "ts", r).getOrElse("ts"),
          optS(n, "stage", r).getOrElse("event_type"),
          strSeq(n, "stages", r, Nil))
      case "hll_key_overlap" =>
        graft.text.Sketches.hllKeyOverlap(
          dfArg(n, "left", r),
          col(optS(n, "left_key", r).getOrElse("user_id")),
          dfArg(n, "right", r),
          col(optS(n, "right_key", r).getOrElse("user_id")),
          optD(n, "p", r).getOrElse(11.0).toInt)
      case "compaction_plan" =>
        graft.ops.Compaction.compactionPlan(dfArg(n, "files", r),
          optS(n, "path_column", r).getOrElse("path"),
          optS(n, "bytes_column", r).getOrElse("bytes"),
          optD(n, "target_bytes", r).getOrElse(134217728.0).toLong)
      case "zorder_key" =>
        // dims: [[column, min, max], ...] — quantize each onto the
        // 2^bits grid and interleave into the Morton key column
        val d = dfArg(n, "data", r)
        val bits = optD(n, "bits", r).getOrElse(10.0).toInt
        val dims = resolve(n.arguments("dims"), r)
          .asInstanceOf[Seq[Any]].map { case s: Seq[_] =>
            (s(0).toString, s(1).asInstanceOf[Double],
              s(2).asInstanceOf[Double])
          }
        d.withColumn(optS(n, "key_column", r).getOrElse("zval"),
          graft.functions.ZOrder.zvalue(bits, dims.map { case (c, lo, hi) =>
            graft.functions.ZOrder.quantize(col(c), lo, hi, bits) }: _*))

      case "normalize_unicode" =>
        // the r13 Unicode tier on the graph surface: NFKC + category
        // fold + collapse/trim in place of the text column
        val d = dfArg(n, "data", r)
        val tc = optS(n, "text_column", r).getOrElse("text")
        d.withColumn(tc,
          graft.text.TextAnalysis.normalizeUnicode(col(tc)))
      case "script_counts" =>
        // per-script character profile appended as flat n_<script>
        // columns (the API struct, star-expanded for graph consumers)
        val d = dfArg(n, "data", r)
        val tc = optS(n, "text_column", r).getOrElse("text")
        // evaluate the struct ONCE (interpreted projections get no
        // subexpression elimination — 9 inline copies would scan the
        // text 9× per row, round-13 advice), then star-expand
        val scripts = Seq("latin", "cyrillic", "han", "arabic",
          "devanagari", "hangul", "kana", "greek", "hebrew")
        d.withColumn("_sc",
            graft.functions.UnicodeExprs.scriptCounts(col(tc)))
          .select(d.columns.map(col) ++
            scripts.map(s => col(s"_sc.$s").as(s"n_$s")): _*)
      case "langid" =>
        // r14: script-majority prior over the stopword heuristic —
        // graph-surface parity with q_text_langid_script. The struct
        // is projected once (no-CSE interpreted expression).
        val d = dfArg(n, "data", r)
        val tc = optS(n, "text_column", r).getOrElse("text")
        d.withColumn("_sc",
            graft.functions.UnicodeExprs.scriptCounts(col(tc)))
          .withColumn("lang_pred",
            graft.text.TextAnalysis.langIdScript(col(tc), col("_sc")))
          .drop("_sc")

      // ---- multimodal tier on the graph surface (r13): the decode/
      // sample/feature seams of multimodal/Multimodal.scala, addressable
      // from the reference's one query language. Codec is named by
      // string ("fake" stub, "bmp"/"png"/"wav" real); binary_column
      // defaults to "payload".
      case "encode_binary" =>
        // deterministic stand-in payload: text bytes as the binary
        // column — the same construction every multimodal gate row uses
        val d = dfArg(n, "data", r)
        d.withColumn(optS(n, "output_column", r).getOrElse("payload"),
          encode(col(optS(n, "text_column", r).getOrElse("text")),
            optS(n, "charset", r).getOrElse("UTF-8")))
      case "image_decode" =>
        graft.multimodal.Multimodal.decodeMeta(dfArg(n, "data", r),
          optS(n, "binary_column", r).getOrElse("payload"), codecArg(n, r))
      case "image_features" =>
        graft.multimodal.Multimodal.featureExtract(dfArg(n, "data", r),
          optS(n, "binary_column", r).getOrElse("payload"),
          dim = optD(n, "dim", r).getOrElse(16.0).toInt,
          codec = codecArg(n, r))
      case "frame_sample" =>
        graft.multimodal.Multimodal.frameSample(dfArg(n, "data", r),
          optS(n, "binary_column", r).getOrElse("payload"),
          everyN = optD(n, "every_n", r).getOrElse(1.0).toInt,
          codec = codecArg(n, r))
      case "audio_features" =>
        graft.multimodal.Multimodal.audioFrameFeatures(dfArg(n, "data", r),
          optS(n, "binary_column", r).getOrElse("payload"),
          frameLen = optD(n, "frame_len", r).getOrElse(256.0).toInt,
          codec = codecArg(n, r))

      // ---- sinks (S5-S8) ----
      case "save_result" =>
        val value = resolve(n.arguments("data"), r)
        val format = optS(n, "format", r).getOrElse("PARQUET")
        Sinks.saveResult(value, format, resultRoot,
          n.arguments.get("options").collect { case LitArg(v) => v })

      // ---- scalar processes used at cube level (apply position, M1-M15) --
      case _ =>
        applyPositionScalar(n, r)
    }
  }

  // ------------------------------------------- top-level element-wise ops

  /** M1-M15 in apply position: operands are whole cubes and/or scalars
    * resolved from prior nodes (openeo_odc_driver.py:383-618). All operand
    * cubes are coordinate-aligned with an inner equi-join on their shared
    * dims (xarray broadcasting), then ONE Column expression computes the
    * result — Catalyst fuses chains of these into a single codegen stage,
    * where the reference builds one Dask layer per node. With no operand
    * cube, the same expression over literals folds to a plain value, as
    * the reference keeps Python numbers in partialResults
    * (openeo_odc_driver.py:387-388). */
  private def applyPositionScalar(n: Node, r: collection.Map[String, Any]): Any = {
    if (!scalarOpByName.contains(n.processId)) throw unsupported(n.processId)
    val resolved: Map[String, Any] = n.arguments.collect {
      case (k, a) if !a.isInstanceOf[SubGraph] => k -> resolve(a, r)
    }
    // reference quirks: divide by literal zero is a compile-time error
    // (DivisionByZero, openeo_odc_driver.py:436-437), and so is a
    // multiply without both operands (MultiplicandMissing, :414)
    if (n.processId == "divide" && resolved.get("y").contains(0.0))
      throw graft.OpenEoError.DivisionByZero
    if (n.processId == "multiply" &&
        (!resolved.contains("x") || !resolved.contains("y")))
      throw graft.OpenEoError.MultiplicandMissing
    val cubes: Seq[(String, Cube)] = resolved.toSeq.flatMap {
      case (k, c: Cube) => Seq(k -> c)
      case (k, xs: Seq[_]) => xs.zipWithIndex.collect {
        case (c: Cube, i) => s"$k#$i" -> c }
      case _ => Nil
    }.sortBy(_._1)
    var joined: DataFrame = null
    var dims: Seq[String] = Nil
    val valCols = scala.collection.mutable.Map[String, Column]()
    cubes.zipWithIndex.foreach { case ((name, c), i) =>
      val vc = s"_v$i"
      val d = c.df.withColumnRenamed(Cube.ValueCol, vc)
      if (joined == null) { joined = d; dims = c.dims }
      else {
        val keys = dims.intersect(c.dims)
        require(keys.nonEmpty, s"${n.processId}: operand cubes share no dims")
        joined = joined.join(d, keys)
        dims = (dims ++ c.dims).distinct
      }
      valCols(name) = col(vc)
    }
    def operand(k: String, v: Any): Column = v match {
      case _: Cube    => valCols(k)
      case d: Double  => lit(d)
      case b: Boolean => lit(b)
      case null       => lit(null)
      case other => throw graft.OpenEoError("ProcessParameterInvalid",
        s"${n.processId}.$k: unsupported operand $other")
    }
    def dataItems: Seq[Column] = resolved.get("data") match {
      case Some(xs: Seq[_]) =>
        xs.zipWithIndex.map { case (v, i) => operand(s"data#$i", v) }
      case Some(other) => throw graft.OpenEoError("ProcessParameterInvalid",
        s"${n.processId}.data: expected an array, got $other")
      case None => Nil
    }
    val expr = scalarOp(n.processId,
      k => resolved.get(k).map(operand(k, _)), dataItems)
    if (cubes.isEmpty) return fold(expr)
    // float32-forcing in the reference (openeo_odc_driver.py:424 et al.);
    // we stay in double for oracle parity but force numeric on booleans
    val keep = Dim.All.filter(dims.contains).map(col)
    Cube(joined.select(keep :+ expr.as(Cube.ValueCol): _*), cubes.head._2.meta)
  }

  /** The value of an all-literal Column: Catalyst analyzes and optimizes
    * it over a one-row local relation, and the optimizer evaluates it on
    * the driver (`ConvertToLocalRelation`), so no Spark job starts. The
    * value is the one the cube path computes, in its type (a comparison
    * stays Boolean). */
  private[graft] def fold(c: Column): Any =
    spark.createDataFrame(java.util.List.of(Row()),
        org.apache.spark.sql.types.StructType(Nil))
      .select(c).collect().head.get(0)

  // ----------------------------------------------- scan + resample folding

  private def loadCollection(n: Node, g: ProcessGraph,
      results: collection.Map[String, Any]): Cube = {
    val id = optS(n, "id", results).get
    val spec0 = catalog.getOrElse(id,
      throw new IllegalArgumentException(s"unknown collection: $id"))
    // resample-into-scan folding (openeo_odc_driver.py:175-202): a
    // resample_spatial node downstream of this scan adjusts the scan grid
    val resample = g.nodes.values.find(rn =>
      rn.processId == "resample_spatial" && rn.arguments.get("data").exists {
        case FromNode(dep) => reachesScan(g, dep, n.id)
        case _ => false
      })
    val bands = n.arguments.get("bands").map(resolve(_, results)
      .asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Nil)
    val spec = spec0
    val temporal = n.arguments.get("temporal_extent")
      .map(extentPair(_, results))
    // spatial_extent carries its own CRS (default 4326) like the reference
    // scan (openeo_odc_driver.py:128-221, load_odc_collection.py:86-100);
    // numeric EPSG, "EPSG:NNNN", and full proj-strings all resolve
    def extentCrs(v: JsonNode): graft.ops.CrsRef = Option(v.get("crs")).map { c =>
      if (c.isNumber) graft.ops.EpsgRef(c.asInt)
      else graft.ops.CrsRef.parse(c.asText)
    }.getOrElse(graft.ops.EpsgRef(4326))
    val (bbox, polygon, extRef) = n.arguments.get("spatial_extent") match {
      case Some(LitArg(v)) if v.has("coordinates") =>
        (None, Some(coordinatesRings(v.get("coordinates"))), extentCrs(v))
      case Some(LitArg(v)) if v.has("west") =>
        (Some((v.get("west").asDouble, v.get("south").asDouble,
          v.get("east").asDouble, v.get("north").asDouble)), None, extentCrs(v))
      case _ => (None, None, graft.ops.EpsgRef(4326))
    }
    val scanned = Scan.loadCollection(spark, spec, bands, temporal, bbox,
      polygon = polygon, extentCrs = extRef)
    // the fold must REGRID THE DATA, not just rewrite grid metadata — the
    // reference's ODC load really resamples (load_odc_collection.py:128-173)
    resample.map(applyResampleFold(scanned, _, results)).getOrElse(scanned)
  }

  /** Execute the folded resample_spatial on the scanned cube: scale the
    * scan grid to the requested resolution and regrid with the requested
    * method (near→nearest like the reference, openeo_odc_driver.py:346-349).
    */
  private def applyResampleFold(c: Cube, rn: Node,
      r: collection.Map[String, Any]): Cube = {
    val res: Option[(Double, Double)] =
      rn.arguments.get("resolution").map(resolve(_, r)) match {
        case Some(d: Double) if d > 0 => Some((d, d))
        case Some(xs: Seq[_]) =>
          xs.map { case d: Double => d } match {
            case Seq(rx, ry) if rx > 0 && ry > 0 => Some((rx, ry))
            case _ => None
          }
        case _ => None
      }
    val projTo: Option[Int] = rn.arguments.get("projection").map(resolve(_, r))
      .map {
        case d: Double => d.toInt
        case s: String if s.forall(_.isDigit) => s.toInt
        case s: String => Filters.crsEpsg(s).getOrElse(
          throw new IllegalArgumentException(s"resample_spatial projection: $s"))
      }
    val srcEpsg = c.meta.crs.flatMap(Filters.crsEpsg)
    val method = optS(rn, "method", r).getOrElse("near")
    val crsChange = projTo.exists(p => !srcEpsg.contains(p))
    val reprojected =
      if (!crsChange) c
      else {
        // warp like the reference's load-time reproject
        // (load_odc_collection.py:128-173): transform every cell coordinate
        // (codegen expression, no shuffle), then regrid below. The regrid
        // is mandatory — reprojected points are irregular.
        if (res.isEmpty) throw new IllegalArgumentException(
          "resample_spatial: a projection change requires a resolution")
        if (method != "near" && method != "nearest")
          throw new IllegalArgumentException(
            s"resample_spatial: method '$method' unsupported for CRS change")
        Joins.reprojectCube(c, srcEpsg.getOrElse(
          throw new IllegalArgumentException(
            "resample_spatial: source cube has no CRS")), projTo.get)
      }
    res match {
      case Some((rx, ry)) =>
        // grid origin: keep the scan grid's origin for a pure resolution
        // change; a CRS change snaps to the res-aligned origin (the
        // reference's geobox alignment, sar2cube/utils.py:18-54)
        val tg =
          if (crsChange) graft.cube.GridRef(0.0, 0.0, rx, ry)
          else c.meta.requireGrid.copy(dx = rx, dy = ry)
        method match {
          case "near" | "nearest" => Joins.resampleCubeSpatialNearest(reprojected, tg)
          case "bilinear"         => Joins.resampleCubeSpatialBilinear(reprojected, tg)
          case "cubic"            => Joins.resampleCubeSpatialCubic(reprojected, tg)
          case other => throw new IllegalArgumentException(
            s"resample_spatial: unsupported method '$other'")
        }
      case None => reprojected
    }
  }

  /** Does following `data` edges from `from` reach node `scanId`? */
  private def reachesScan(g: ProcessGraph, from: String, scanId: String): Boolean =
    from == scanId || (g.nodes.get(from) match {
      case Some(node) => node.arguments.get("data") match {
        case Some(FromNode(next)) => reachesScan(g, next, scanId)
        case _ => false
      }
      case None => false
    })

  /** Validate the run_udf `context` WHEN it is a literal object:
    * chunk_size / num_jobs must be positive integers, vectorized a boolean
    * (openeo_odc_driver.py:304-316 reads these with Python truthiness; we
    * fail loudly on type junk so a typo'd graph doesn't silently differ
    * from the reference). Everything else — the openEO `{"from_parameter":
    * "context"}` pass-through idiom, scalars, null — is spec-type `Any`
    * and passes untouched, exactly as before context handling existed. */
  private def validateRunUdfContext(a: Arg): Unit = a match {
    case LitArg(v) if v.isObject =>
      def checkPosInt(key: String): Unit = {
        val f = v.get(key)
        if (f != null && (!f.canConvertToInt || f.asInt <= 0))
          throw new IllegalArgumentException(
            s"run_udf context.$key must be a positive integer, got $f")
      }
      checkPosInt("chunk_size"); checkPosInt("num_jobs")
      val vec = v.get("vectorized")
      if (vec != null && !vec.isBoolean)
        throw new IllegalArgumentException(
          s"run_udf context.vectorized must be a boolean, got $vec")
    case _ => // Any per the openEO spec — from_parameter, scalar, null
  }

  // ------------------------------------------------------ callback compilation

  private def subGraph(n: Node, name: String): ProcessGraph =
    n.arguments.get(name) match {
      case Some(SubGraph(g)) => g
      case other => throw new IllegalArgumentException(
        s"${n.processId}.$name: expected process graph, got $other")
    }

  /** A callback that is a single named reducer over its `data` parameter
    * (the aggregate_* convention — openeo_odc_driver.py:535, 723, 780).
    * Any other shape is unsupported: reading only the result node would
    * drop every other node of the callback. */
  def callbackReducerName(g: ProcessGraph): String = {
    val node = g.resultNode
    node.arguments.get("data") match {
      case Some(FromParameter(_)) if g.nodes.size == 1 => node.processId
      case _ => throw graft.OpenEoError("ProcessUnsupported",
        s"Process '${node.processId}' is supported as a reducer only as " +
          "the single node of its callback, over the callback's data.")
    }
  }

  /** reduce_dimension: a named-reducer callback reduces with groupBy; an
    * expression callback over the band axis (array_element + math — the
    * NDVI pattern) compiles to a Column over the wide pivot. */
  private def reduceWithCallback(c: Cube, dim: String, cb: ProcessGraph): Cube = {
    val named = Set("min", "max", "mean", "median", "sd", "variance", "sum",
      "product", "count", "first")
    val result = cb.resultNode
    if (named.contains(result.processId) && cb.nodes.size == 1)
      Reducers.reduceDimension(c, dim, result.processId)
    else if (result.processId == "run_udf" && cb.nodes.size == 1 &&
        (result.arguments.get("data") match {
          case Some(FromParameter(_)) => true; case _ => false
        })) {
      // reduce_dimension-position run_udf: series→scalar source compiled
      // to an aggregate expression (sqrt(mean(x^2)), quantile(x, .9), …)
      // — one partial+final groupBy, no R bridge. Guarded to the
      // single-node, data-from-parameter shape: a multi-node reducer
      // subgraph feeding run_udf would otherwise silently drop the
      // upstream stages — that falls through to the typed unsupported
      // error below instead.
      Reducers.reduceDimensionExpr(c, dim,
        UdfCompiler.compileReduce(udfSource(result), col(Cube.ValueCol)).cast("double"))
    }
    else if (dim == Dim.Band) {
      // expression over band columns: compile against the wide view
      val wide = c.wide
      def band(e: Node): Column = col(e.arguments.get("label").collect {
          case LitArg(v) if v.isTextual => v.asText
        }.orElse(e.arguments.get("index").collect {
          case LitArg(v) if v.isNumber => v.asInt
        }.flatMap(c.meta.bandOrder.lift)).getOrElse(throw graft.OpenEoError(
          "ProcessParameterInvalid", "array_element over bands needs a " +
            s"label, or an index into the cube's bands ${c.meta.bandOrder}")))
      val expr = callback(cb, Map.empty, band)
      val keys = c.dimsExcept(Dim.Band).map(col)
      Cube(wide.select(keys :+ expr.cast("double").as(Cube.ValueCol): _*),
        c.meta.copy(bandOrder = Nil))
    } else if (result.processId == "quantiles") {
      val probs = result.arguments.get("probabilities")
        .map(a => flattenDoubles(a)).getOrElse(Nil)
      val q = result.arguments.get("q").collect {
        case LitArg(v) if v.isNumber => v.asInt }
      Reducers.quantiles(c, dim, probs, q)
    } else throw new IllegalArgumentException(
      s"unsupported reducer callback over $dim: ${result.processId}")
  }

  private def applyDimension(c: Cube, dim: String, cb: ProcessGraph,
      target: Option[String]): Any = {
    val result = cb.resultNode
    result.processId match {
      case "array_interpolate_linear" => Neighborhood.interpolateLinear(c, dim)
      case "run_udf" =>
        // apply_dimension-position run_udf: series→series source (cummax,
        // lag, rollmean, …) compiled over a per-group ordered window along
        // `dim` — the reference ships the series to an R pool instead
        // (openeo_odc_driver.py:282-339); here it stays a window projection
        val src = udfSource(result)
        // `runtime: "java"` (openEO run_udf's runtime argument) selects
        // the EXTERNAL escape hatch: opaque Java source compiled per
        // executor JVM by janino and run per series through the chunked
        // mapPartitions-style seam, `context.chunk_size` honored as the
        // shuffle granularity (the reference's joblib chunk,
        // openeo_odc_driver.py:304-316). The expression grammar below
        // stays the default — it runs inside whole-stage codegen, which
        // an opaque method never can.
        val runtime = result.arguments.get("runtime").collect {
          case LitArg(v) if v.isTextual => v.asText.toLowerCase
        }
        // `runtime: "python"` rides the same seam through a piped
        // python3 worker per executor thread (the reference's actual
        // external surface is an R/Python pool) — see graft.ops.PythonUdf
        if (runtime.exists(rt =>
            rt == "java" || rt == "jvm" || rt == "python" || rt == "python3")) {
          result.arguments.get("context").foreach(validateRunUdfContext)
          val chunkSize = result.arguments.get("context").collect {
            case LitArg(v) if v.isObject && v.has("chunk_size") =>
              v.get("chunk_size").asInt
          }.getOrElse(512)
          return if (runtime.exists(_.startsWith("python")))
            graft.ops.PythonUdf.runSeriesPython(c, src, chunkSize, dim)
          else
            graft.ops.ExternalUdf.runSeriesExternal(c, src, chunkSize, dim)
        }
        // `runtime: "R"` IS hosted — by the typed grammar below, which
        // compiles the reference's R `function(x, context)` subset to
        // native Column expressions (no interpreter involved). Any OTHER
        // named runtime is a typed error, not a grammar parse failure: a
        // porting user should read "unsupported runtime", never a
        // confusing expression-syntax message about their source.
        runtime.filterNot(rt =>
            rt.isEmpty || rt == "expression" || rt == "r")
          .foreach { rt =>
            throw graft.OpenEoError("UnsupportedRuntime",
              s"run_udf runtime '$rt' is not available in this " +
                "deployment; supported: the typed expression grammar " +
                "(default, hosts the R function subset), 'java'/'jvm' " +
                "(janino-compiled), 'python'/'python3' (piped worker).")
          }
        val otherDims = c.dims.filterNot(_ == dim)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(otherDims.map(col): _*).orderBy(col(dim))
        // ROW-frame spec with a deterministic value tiebreak: duplicate
        // labels along `dim` (rename_labels with ordinals) would otherwise
        // make lag/lead/rollmean depend on arbitrary intra-tie order
        try c.mapValue { v =>
          val wRows = org.apache.spark.sql.expressions.Window
            .partitionBy(otherDims.map(col): _*).orderBy(col(dim), v)
          UdfCompiler.compileSeries(src, v, w, wRows)
        } catch {
          // R source beyond the typed subset would need the full R
          // interpreter the deployment doesn't ship — say so, instead
          // of leaving only the grammar's syntax complaint
          case e: UdfCompiler.UdfParseError if runtime.contains("r") =>
            throw graft.OpenEoError("UnsupportedRuntime",
              "run_udf runtime 'R' is hosted for the typed function " +
                s"subset only; this source needs a full R interpreter, " +
                s"which this deployment does not ship (${e.getMessage})")
        }
      case "quantiles" =>
        val probs = result.arguments.get("probabilities")
          .map(flattenDoubles).getOrElse(Nil)
        val q = result.arguments.get("q").collect {
          case LitArg(v) if v.isNumber => v.asInt }
        Reducers.quantiles(c, dim, probs, q)
      case _ => reduceWithCallback(c, dim, cb)
    }
  }

  private def flattenDoubles(a: Arg): Seq[Double] = a match {
    case ArrayArg(xs) => xs.collect { case LitArg(v) if v.isNumber => v.asDouble }
    case LitArg(v) if v.isArray =>
      v.elements().asScala.toSeq.map(_.asDouble())
    case _ => Nil
  }

  // --------------------------------------------------------------- geometries

  private def extentPair(a: Arg, results: collection.Map[String, Any]): (String, String) =
    resolve(a, results) match {
      case xs: Seq[_] if xs.length >= 2 => (xs(0).toString, xs(1).toString)
      case other => throw new IllegalArgumentException(s"temporal extent: $other")
    }

  /** GeoJSON Polygon/MultiPolygon/FeatureCollection → outer rings. */
  private def geoJsonRings(a: Arg): Seq[Geo.Ring] = a match {
    case LitArg(v) => geoJsonRings(v)
    case other => throw new IllegalArgumentException(s"geometries: $other")
  }

  private def geoJsonRings(v: JsonNode): Seq[Geo.Ring] =
    if (v.has("features"))
      v.get("features").elements().asScala.toSeq
        .flatMap(f => geoJsonRings(f.get("geometry")))
    else if (v.has("geometry")) geoJsonRings(v.get("geometry"))
    else if (v.has("coordinates")) coordinatesRings(v.get("coordinates"))
    else Nil

  /** Polygon coordinates ([[ring]] or [[[ring]]] for multipolygon) →
    * outer rings only (hole support matches the reference: none). */
  private def coordinatesRings(coords: JsonNode): Seq[Geo.Ring] = {
    def ring(r: JsonNode): Geo.Ring =
      r.elements().asScala.toSeq.map(pt =>
        (pt.get(0).asDouble, pt.get(1).asDouble))
    val first = coords.get(0)
    if (first.get(0).isArray && first.get(0).get(0).isArray)
      coords.elements().asScala.toSeq.map(poly => ring(poly.get(0)))  // multi
    else Seq(ring(first))  // single polygon, outer ring
  }
}

object GraphCompiler {

  /** The operands of one element-wise process, each already a Column: its
    * named arguments and the items of its `data` array. */
  final class Operands(processId: String, named: String => Option[Column],
      items: => Seq[Column]) {
    def opt(k: String): Option[Column] = named(k)
    def apply(k: String): Column = named(k).getOrElse(missing(k))
    def data: Seq[Column] = { val xs = items; if (xs.isEmpty) missing("data"); xs }
    private def missing(k: String): Nothing = throw graft.OpenEoError(
      "ProcessParameterMissing",
      s"Process '$processId' needs the argument '$k'.")
  }

  /** The element-wise processes (M1-M15, openeo_odc_driver.py:383-618):
    * the one table every position compiles them from — cube-level nodes,
    * their all-literal fold, and every callback the walker compiles. */
  val scalarOpByName: Map[String, Operands => Column] = Map(
    "add"      -> (a => a("x") + a("y")),
    "subtract" -> (a => a("x") - a("y")),
    "multiply" -> (a => a("x") * a("y")),
    "divide"   -> (a => a("x") / a("y")),
    "sum"      -> (a => a.data.reduce(_ + _)),
    "product"  -> (a => a.data.reduce(_ * _)),
    "lt"  -> (a => a("x") <  a("y")),
    "lte" -> (a => a("x") <= a("y")),
    "gt"  -> (a => a("x") >  a("y")),
    "gte" -> (a => a("x") >= a("y")),
    "eq"  -> (a => a("x") === a("y")),
    "neq" -> (a => a("x") =!= a("y")),
    "not" -> (a => !a("x")),
    "and" -> (a => a("x") && a("y")),
    "or"  -> (a => a("x") || a("y")),
    "sqrt"     -> (a => sqrt(a("x"))),
    "power"    -> (a => pow(a("base"), a("p"))),
    "absolute" -> (a => abs(a("x"))),
    "ln"       -> (a => log(a("x"))), // reference intent (np.ln bug, line 512)
    "log"      -> (a => log(a("x")) / log(a.opt("base").getOrElse(lit(10.0)))),
    "exp" -> (a => exp(a("x"))),
    "sin" -> (a => sin(a("x"))),
    "cos" -> (a => cos(a("x"))),
    "pi"  -> (_ => lit(math.Pi)),
    "normalized_difference" -> (a => (a("x") - a("y")) / (a("x") + a("y"))),
    "clip" -> (a => greatest(a.opt("min").getOrElse(lit(0.0)),
      least(a.opt("max").getOrElse(lit(Double.MaxValue)), a("x")))),
    "linear_scale_range" -> { a =>
      val iMin = a("inputMin"); val iMax = a("inputMax")
      val oMin = a.opt("outputMin").getOrElse(lit(0.0))
      val oMax = a.opt("outputMax").getOrElse(lit(1.0))
      val clamped = greatest(iMin, least(iMax, a("x")))
      (clamped - iMin) / (iMax - iMin) * (oMax - oMin) + oMin
    },
    // the cast types a null literal condition (a no-op on a boolean)
    "if" -> (a => when(a("value").cast("boolean"), a("accept"))
      .otherwise(a.opt("reject").getOrElse(lit(null)))),
    "is_nodata" -> (a => a("x").isNull || isnan(a("x"))),
    "is_nan"    -> (a => a("x").isNull || isnan(a("x"))))

  /** `processId` from [[scalarOpByName]] over the given operands. */
  def scalarOp(processId: String, named: String => Option[Column],
      data: => Seq[Column]): Column =
    scalarOpByName.getOrElse(processId, throw unsupported(processId))(
      new Operands(processId, named, data))

  private def unsupported(processId: String): graft.OpenEoError =
    graft.OpenEoError("ProcessUnsupported",
      s"Process '$processId' is not supported in this position.")

  /** The one callback walker: an element-wise callback graph → one Column
    * from [[scalarOpByName]] (run_udf compiles its source over its data).
    * Callers differ only in how leaves bind: `param` binds a
    * from_parameter (apply's `x`, an overlap resolver's `x`/`y`, a model's
    * `x`), `element` an array_element node (a band column, a model
    * parameter). Numeric literals stay plain `Literal`s, so the physical
    * plan can turn them into generated-code parameters. */
  def callback(g: ProcessGraph, param: Map[String, Column],
      element: Node => Column = e => throw unsupported(e.processId)): Column = {
    val done = scala.collection.mutable.Map[String, Column]()
    def arg(a: Arg): Column = a match {
      case FromNode(id)     => done(id)
      case FromParameter(p) => param.getOrElse(p, throw graft.OpenEoError(
        "ProcessParameterInvalid", s"unbound callback parameter '$p'"))
      case LitArg(v) if v.isNumber  => lit(v.asDouble)
      case LitArg(v) if v.isBoolean => lit(v.asBoolean)
      case LitArg(v) if v.isNull    => lit(null)
      case other => throw graft.OpenEoError("ProcessParameterInvalid",
        s"unsupported callback operand $other")
    }
    g.topoSorted.foreach { n =>
      done(n.id) = n.processId match {
        case "array_element" => element(n)
        case "run_udf" =>
          UdfCompiler.compile(udfSource(n), arg(n.arguments("data")))
        case p => scalarOp(p, k => n.arguments.get(k).map(arg),
          n.arguments.get("data") match {
            case Some(ArrayArg(xs)) => xs.map(arg)
            case _ => Nil
          })
      }
    }
    done(g.resultNode.id)
  }

  /** A fit_curve / predict_curve model callback over `x` (Unix seconds)
    * and the `parameters` array — the walker, with `x` and each
    * array_element bound by the caller, in place of the reference's
    * Python-source codegen (openeo_odc_driver.py:228-278). It has one
    * parameter more than its largest array_element index. */
  def model(g: ProcessGraph): CurveFit.Model = {
    def index(e: Node): Int = e.arguments.get("index").collect {
      case LitArg(v) if v.isNumber && v.asInt >= 0 => v.asInt
    }.getOrElse(throw graft.OpenEoError("ProcessParameterInvalid",
      "a model's array_element needs a numeric index into its parameters"))
    val indices = g.nodes.values.filter(_.processId == "array_element").map(index)
    CurveFit.Model(indices.maxOption.fold(0)(_ + 1),
      (x, p) => callback(g, Map("x" -> x), e => p(index(e))))
  }

  /** run_udf's `udf` argument: the UDF source text. */
  private def udfSource(n: Node): String = n.arguments.get("udf") match {
    case Some(LitArg(v)) if v.isTextual => v.asText
    case other => throw new IllegalArgumentException(s"run_udf udf: $other")
  }
}
