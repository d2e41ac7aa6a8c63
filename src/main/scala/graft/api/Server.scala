package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.compile.GraphCompiler
import graft.cube.Cube
import graft.ops.{Scan, Sinks, Tables}
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{CancellationException, CompletableFuture,
  ConcurrentHashMap, ExecutionException, Executors}

/** HTTP facade mirroring the reference's openEO backend surface
  * (odc_backend.py):
  *
  *   POST   /graph          — run a process graph, return result path
  *   GET    /collections    — list collections (STAC-ish)
  *   GET    /collections/x  — describe one collection
  *   DELETE /stop_job?id=   — cancel a running job
  *
  * Reference → Spark mappings:
  *  - result cache: md5 of the graph string → artifact path
  *    (odc_backend.py:62-85); here one in-memory registry, md5 → future
  *    path: the first POST runs the graph, identical POSTs wait on it
  *    (`cached:true`), a failed or stopped run leaves the registry.
  *  - cancellation: the reference kills the worker PROCESS via the jobs
  *    CSV (odc_backend.py:105-120, workable only because gunicorn runs
  *    max_requests=1); here jobs run in one shared SparkSession tagged
  *    with a job group, and DELETE cancels the group —
  *    `sparkContext.cancelJobGroup` — no process kill needed.
  *  - concurrency: the reference serializes via 3 single-thread workers;
  *    here 4 request threads share the session, and Spark's default FIFO
  *    scheduler runs their jobs: a job's tasks queue behind those of jobs
  *    submitted before it, whatever request they serve.
  *  - graph size: a graph of more than `ProcessGraph.MaxNodes` nodes is
  *    answered 400 (`ProcessGraphComplexity`) at parse time.
  *  - request size: a graph body longer than [[Server.MaxBodyBytes]] is
  *    answered 413 without being held in memory.
  */
final class Server(spark: SparkSession, catalog: Catalog,
    resultRoot: String, port: Int = 0) {

  private val jobs = new ConcurrentHashMap[String, CompletableFuture[String]]()
  // error bodies carry arbitrary messages: Jackson escapes every control
  // character, so the body stays valid JSON
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(Executors.newFixedThreadPool(4))

  def boundPort: Int = server.getAddress.getPort

  def start(): Server = {
    server.createContext("/graph", (ex: HttpExchange) => handle(ex) {
      case "POST" => readBody(ex) match {
        case Some(body) => post(body)
        case None => (413, json.createObjectNode().put("error",
          s"request body exceeds ${Server.MaxBodyBytes} bytes").toString)
      }
    })
    server.createContext("/collections", (ex: HttpExchange) => handle(ex) {
      case "GET" =>
        val path = ex.getRequestURI.getPath.stripPrefix("/collections")
          .stripPrefix("/")
        if (path.isEmpty) (200, catalog.listJson(spark))
        else catalog.describeJson(spark, path)
          .map((200, _)).getOrElse((404, s"""{"error":"unknown collection"}"""))
    })
    server.createContext("/stop_job", (ex: HttpExchange) => handle(ex) {
      case "DELETE" =>
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val id = q.split('&').map(_.split('=')).collectFirst {
          case Array("id", v) => v }
        id.map(jobId => (jobId, Option(jobs.get(jobId)))) match {
          case Some((jobId, Some(job))) if !job.isDone =>
            spark.sparkContext.cancelJobGroup(jobId)
            if (job.completeExceptionally(
                new CancellationException(s"job $jobId was stopped")))
              jobs.remove(jobId, job)
            (200, s"""{"stopped":"$jobId"}""")
          case Some((jobId, _)) => (404, s"""{"error":"no running job $jobId"}""")
          case None => (400, """{"error":"missing id"}""")
        }
    })
    server.start()
    this
  }

  /** Run a graph POST: the first POST of a graph runs it, an identical
    * one waits on the same future. */
  private def post(body: String): (Int, String) = {
    val jobId = md5(body)
    val job = new CompletableFuture[String]()
    Option(jobs.putIfAbsent(jobId, job)) match {
      case Some(prior) =>
        val path = try prior.get()
          catch { case e: ExecutionException => throw e.getCause }
        (200, s"""{"output":"$path","cached":true}""")
      case None =>
        spark.sparkContext.setJobGroup(jobId,
          s"graft job $jobId", interruptOnCancel = true)
        try {
          val compiler = new GraphCompiler(spark, catalog.specs,
            s"$resultRoot/$jobId")
          val path = compiler.compile(body) match {
            case p: String => p // save_result already wrote
            case c: Cube => Sinks.saveResult(c, "PARQUET",
              s"$resultRoot/$jobId")
            case other => Sinks.saveResult(other, "JSON",
              s"$resultRoot/$jobId")
          }
          job.complete(path)
          (200, s"""{"output":"$path","cached":false}""")
        } catch {
          case t: Throwable =>
            jobs.remove(jobId, job)
            job.completeExceptionally(t)
            throw t
        } finally spark.sparkContext.clearJobGroup()
    }
  }

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange)(
      f: PartialFunction[String, (Int, String)]): Unit = {
    val (code, body) =
      try f.applyOrElse(ex.getRequestMethod,
        (_: String) => (405, """{"error":"method not allowed"}"""))
      catch {
        // openEO error identities surface as the spec's {code, message}
        // shape with 400 (openeo_error_messages.py parity), not a bare 500
        case e: graft.OpenEoError =>
          (400, json.createObjectNode().put("code", e.code)
            .put("message", e.msg).toString)
        // any other Throwable (a StackOverflowError too) still gets a reply
        case e: Throwable =>
          (500, json.createObjectNode()
            .put("error", String.valueOf(e.getMessage)).toString)
      }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The request body as UTF-8, or None when it is longer than
    * [[Server.MaxBodyBytes]]: by its declared length without reading it,
    * otherwise after reading one byte past the bound. */
  private def readBody(ex: HttpExchange): Option[String] = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.trim.toLongOption)
    if (declared.exists(_ > Server.MaxBodyBytes)) None
    else {
      val bytes = ex.getRequestBody.readNBytes(Server.MaxBodyBytes + 1)
      if (bytes.length > Server.MaxBodyBytes) None
      else Some(new String(bytes, UTF_8))
    }
  }

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
}

object Server {
  /** Largest accepted request body; a longer one gets a 413 reply. A
    * 100,000-node process graph is about 7.5 MB. */
  val MaxBodyBytes: Int = 32 << 20
}

/** Collection catalog over the parquet store — the reference scrapes a
  * datacube-explorer + dataset YAMLs to synthesize STAC collections
  * (odc_backend.py:163-313); here the parquet footer IS the metadata
  * source: extents come from column min/max (one small agg per describe,
  * cached), bands from the distinct band labels, CRS/grid from the
  * registered spec.
  *
  * `supplementary` mirrors the reference's per-collection supplementary
  * metadata file (odc_backend.py:197-243): a JSON object per collection
  * id whose whitelisted keys (title, description, keywords, providers,
  * version, deprecated, license, sci:citation, links, the summaries
  * subset, a temporal-extent override, and a bands-values override)
  * merge over the synthesized document — same whitelist, same
  * scientific-extension switch. */
final class Catalog(val specs: Map[String, Scan.CollectionSpec],
    val supplementary: Map[String, String] = Map.empty) {
  private val described = new ConcurrentHashMap[String, String]()

  def listJson(spark: SparkSession): String =
    specs.keys.toSeq.sorted
      .map(id => s"""{"id":"$id"}""")
      .mkString("""{"collections":[""", ",", "]}")

  def describeJson(spark: SparkSession, id: String): Option[String] =
    specs.get(id).map { spec =>
      described.computeIfAbsent(id, _ => {
        import org.apache.spark.sql.functions._
        val df = Tables.read(spark, spec.path)
        // one pass for extents AND the temporal cadence: the minimum
        // positive gap between consecutive distinct labels (tiny distinct
        // set — the time axis, not the cube)
        val r = df.agg(
          min("time"), max("time"), min("x"), max("x"),
          min("y"), max("y")).head()
        val stepSec: Option[Long] = {
          val w = org.apache.spark.sql.expressions.Window.orderBy(col("time"))
          df.select(col("time")).distinct()
            .withColumn("_gap", unix_timestamp(col("time")) -
              unix_timestamp(lag(col("time"), 1).over(w)))
            .where(col("_gap") > 0)
            .agg(min("_gap")).head() match {
              case row if row.isNullAt(0) => None
              case row => Some(row.getLong(0))
            }
        }
        // ISO-8601 duration for the datacube extension's `step`
        val stepIso = stepSec.map { s =>
          if (s % 86400 == 0) s"P${s / 86400}D"
          else if (s % 3600 == 0) s"PT${s / 3600}H"
          else s"PT${s}S"
        }
        val bands =
          if (spec.bandOrder.nonEmpty) spec.bandOrder
          else df.select("band").distinct().collect().map(_.getString(0)).sorted.toSeq
        val bandsJson = bands.map("\"" + _ + "\"").mkString("[", ",", "]")
        // per-band nodata/scale/offset synthesized from the registered
        // CollectionSpec.adjust — the openEO client reads these to undo
        // packing (the reference keeps them in dataset YAMLs it only
        // half-surfaces, odc_backend.py:243-309; the spec IS our store's
        // metadata, so surface it as eo:bands summaries). Only present
        // when the collection declares adjusts; a supplementary-file
        // `summaries` object still overrides wholesale (same precedence
        // as the reference's metadata merge).
        val summariesJson =
          if (spec.adjust.isEmpty) ""
          else {
            val eoBands = bands.map { b =>
              val a = spec.adjust.getOrElse(b, graft.ops.Scan.BandAdjust())
              val nd = a.nodata.map(v => s""","nodata":$v""").getOrElse("")
              s"""{"name":"$b","scale":${a.scale},"offset":${a.offset}$nd}"""
            }.mkString("[", ",", "]")
            s""",
               |"summaries":{"eo:bands":$eoBands}""".stripMargin
          }
        // reference layout (odc_backend.py:184-309): datacube extension,
        // DATE/X/Y/bands dimension names (config.py:41-44), axis +
        // reference_system on the spatial dims, top-level extent object.
        // Richer than the reference where the store knows more: spatial
        // `step` from the registered grid resolution, temporal `step`
        // from the label cadence.
        val epsg = spec.crs.flatMap(graft.ops.Filters.crsEpsg).getOrElse(4326)
        val (t0, t1) = (r.get(0), r.get(1))
        val (x0, x1, y0, y1) = (r.get(2), r.get(3), r.get(4), r.get(5))
        val xStep = spec.grid.map(g => s""","step":${g.dx}""").getOrElse("")
        val yStep = spec.grid.map(g => s""","step":${g.dy}""").getOrElse("")
        val tStep = stepIso.map(s => s""","step":"$s"""").getOrElse("")
        s"""{"id":"$id","stac_version":"1.0.0",
           |"stac_extensions":["datacube"],
           |"license":"CC-BY-4.0",
           |"crs":"${spec.crs.getOrElse("")}",
           |"extent":{
           |"spatial":{"bbox":[[$x0,$y0,$x1,$y1]]},
           |"temporal":{"interval":[["$t0","$t1"]]}},
           |"cube:dimensions":{
           |"DATE":{"type":"temporal","extent":["$t0","$t1"]$tStep},
           |"X":{"type":"spatial","axis":"x","extent":[$x0,$x1],"reference_system":$epsg$xStep},
           |"Y":{"type":"spatial","axis":"y","extent":[$y0,$y1],"reference_system":$epsg$yStep},
           |"bands":{"type":"bands","values":$bandsJson}}$summariesJson}""".stripMargin
      }) match {
        case base => supplementary.get(id) match {
          case None => base
          case Some(supp) => Catalog.mergeSupplementary(base, supp)
        }
      }
    }
}

object Catalog {
  /** Merge a supplementary-metadata JSON object over a synthesized STAC
    * collection, with the reference's exact key whitelist
    * (odc_backend.py:197-243). Unknown keys are dropped — supplementary
    * files must not be able to overwrite synthesized extents or
    * dimensions wholesale. Jackson comes from Spark's own classpath. */
  private[api] def mergeSupplementary(baseJson: String,
      suppJson: String): String = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val m = new ObjectMapper()
    val base = m.readTree(baseJson).asInstanceOf[ObjectNode]
    val supp = m.readTree(suppJson)
    for (k <- Seq("title", "description", "keywords", "providers",
        "version", "deprecated", "license", "sci:citation", "links"))
      if (supp.has(k)) base.set[ObjectNode](k, supp.get(k))
    // a citation upgrades the extension list exactly like the reference
    if (supp.has("sci:citation"))
      base.set[ObjectNode]("stac_extensions",
        m.readTree("""["datacube","scientific"]"""))
    if (supp.has("extent") && supp.get("extent").has("temporal"))
      base.get("extent").asInstanceOf[ObjectNode]
        .set[ObjectNode]("temporal", supp.get("extent").get("temporal"))
    if (supp.has("summaries")) {
      val out = m.createObjectNode()
      for (k <- Seq("rows", "columns", "gsd", "constellation", "platform",
          "instruments", "eo:cloud cover"))
        if (supp.get("summaries").has(k))
          out.set[ObjectNode](k, supp.get("summaries").get(k))
      base.set[ObjectNode]("summaries", out)
    }
    if (supp.has("cube:dimensions") &&
        supp.get("cube:dimensions").has("bands") &&
        supp.get("cube:dimensions").get("bands").has("values")) {
      val bands = m.createObjectNode()
      bands.put("type", "bands")
      bands.set[ObjectNode]("values",
        supp.get("cube:dimensions").get("bands").get("values"))
      base.get("cube:dimensions").asInstanceOf[ObjectNode]
        .set[ObjectNode]("bands", bands)
    }
    m.writeValueAsString(base)
  }
}
