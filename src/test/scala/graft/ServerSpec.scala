package graft

import graft.api.{Catalog, Server}
import graft.cube.GridRef
import graft.ops.Scan
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

class ServerSpec extends SparkSpec {

  lazy val collectionDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("api-coll").toString
    val rows = for { d <- 1 to 2; b <- Seq("B04", "B08"); y <- 0 to 1; x <- 0 to 1 }
      yield (ts(f"2022-06-0$d 00:00:00"), b, y.toDouble, x.toDouble, d * 100.0 + y + x)
    rows.toDF("time", "band", "y", "x", "value")
      .write.mode("overwrite").parquet(s"$dir/c")
    dir
  }

  lazy val server: Server = {
    val catalog = new Catalog(Map("c1" -> Scan.CollectionSpec(
      s"$collectionDir/c", crs = Some("EPSG:32632"),
      bandOrder = Seq("B04", "B08"), grid = Some(GridRef(0, 0, 1, 1)))))
    new Server(spark, catalog,
      java.nio.file.Files.createTempDirectory("api-res").toString).start()
  }

  def http(method: String, path: String, body: String = ""): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.boundPort}$path"))
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
      .build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("GET /collections lists registered collections") {
    val (code, body) = http("GET", "/collections")
    code shouldBe 200
    body should include(""""id":"c1"""")
  }

  test("GET /collections/<id> synthesizes cube:dimensions from the store") {
    val (code, body) = http("GET", "/collections/c1")
    code shouldBe 200
    body should include("\"bands\":{\"type\":\"bands\",\"values\":[\"B04\",\"B08\"]}")
    body should include("2022-06-01")
    // reference STAC layout: datacube extension, DATE/X/Y dimension names,
    // axis + reference_system on spatial dims, top-level extent object
    body should include(""""stac_extensions":["datacube"]""")
    body should include(""""DATE":{"type":"temporal"""")
    body should include(""""axis":"x"""")
    body should include(""""reference_system":32632""")
    body should include(""""spatial":{"bbox":[[""")
    // step synthesis: spatial step from the registered grid, temporal
    // step from the daily label cadence as an ISO-8601 duration
    body should include(""""step":"P1D"""")
    body should include(""""axis":"x","extent":[0.0,1.0],"reference_system":32632,"step":1.0""")
    val (code404, _) = http("GET", "/collections/nope")
    code404 shouldBe 404
  }

  test("supplementary metadata merges with the reference's whitelist") {
    val supp = """{
      "title": "Test Cube", "license": "MIT",
      "sci:citation": "Someone et al. 2024",
      "hacker_key": "must not pass through",
      "extent": {"temporal": {"interval": [["2000-01-01", null]]}},
      "summaries": {"gsd": [10], "platform": ["unit-test"],
                    "unlisted": "dropped"},
      "cube:dimensions": {"bands": {"values": ["B04", "B08", "SCL"]}}
    }"""
    val catalog = new Catalog(Map("c2" -> Scan.CollectionSpec(
      s"$collectionDir/c", crs = Some("EPSG:32632"),
      bandOrder = Seq("B04", "B08"), grid = Some(GridRef(0, 0, 1, 1)))),
      supplementary = Map("c2" -> supp))
    val body = catalog.describeJson(spark, "c2").get
    body should include(""""title":"Test Cube"""")
    body should include(""""license":"MIT"""")
    // citation flips the extension list exactly like odc_backend.py
    body should include(""""stac_extensions":["datacube","scientific"]""")
    // temporal override lands inside the synthesized extent object
    body should include(""""interval":[["2000-01-01",null]]""")
    // summaries whitelist: listed keys pass, unlisted are dropped
    body should include(""""gsd":[10]""")
    body should include(""""platform":["unit-test"]""")
    body should not include "unlisted"
    body should not include "hacker_key"
    // bands-values override replaces the synthesized band list
    body should include(""""values":["B04","B08","SCL"]""")
    // synthesized dimensions survive the merge
    body should include(""""axis":"x"""")
  }

  test("per-band nodata/scale/offset synthesize from CollectionSpec.adjust") {
    val catalog = new Catalog(Map("c3" -> Scan.CollectionSpec(
      s"$collectionDir/c", crs = Some("EPSG:32632"),
      bandOrder = Seq("B04", "B08"), grid = Some(GridRef(0, 0, 1, 1)),
      adjust = Map(
        "B04" -> Scan.BandAdjust(nodata = Some(0.0),
          scale = 0.0001, offset = -0.1),
        // B08 deliberately unregistered: defaults synthesize
      ))))
    val body = catalog.describeJson(spark, "c3").get
    // openEO-client shape: summaries.eo:bands, one entry per band in
    // band order, adjusted fields on registered bands, identity
    // defaults (scale 1, offset 0, no nodata) on the rest
    body should include(""""summaries":{"eo:bands":[""")
    body should include(
      """{"name":"B04","scale":1.0E-4,"offset":-0.1,"nodata":0.0}""")
    body should include("""{"name":"B08","scale":1.0,"offset":0.0}""")
    // the whole document must stay parseable JSON
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    // a collection without adjusts emits no summaries block
    val plain = new Catalog(Map("c4" -> Scan.CollectionSpec(
      s"$collectionDir/c", crs = Some("EPSG:32632"),
      bandOrder = Seq("B04", "B08"), grid = Some(GridRef(0, 0, 1, 1)))))
    plain.describeJson(spark, "c4").get should not include "summaries"
  }

  test("POST /graph executes a process graph and caches by md5") {
    val graph = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "c1"}},
      "max": {"process_id": "reduce_dimension", "arguments": {
        "data": {"from_node": "load"}, "dimension": "t",
        "reducer": {"process_graph": {
          "m": {"process_id": "max",
                "arguments": {"data": {"from_parameter": "data"}},
                "result": true}}}}, "result": true}}"""
    val (code, body) = http("POST", "/graph", graph)
    code shouldBe 200
    body should include(""""cached":false""")
    val out = body.split("\"output\":\"")(1).split("\"")(0)
    spark.read.parquet(out).count() shouldBe 8 // 2 bands × 2×2 pixels
    // second POST of the same graph hits the result cache
    val (_, body2) = http("POST", "/graph", graph)
    body2 should include(""""cached":true""")
  }

  test("POST /graph runs run_udf + folded resample_spatial end to end") {
    val graph = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "c1"}},
      "rs": {"process_id": "resample_spatial", "arguments": {
        "data": {"from_node": "load"}, "resolution": 2}},
      "udf": {"process_id": "run_udf", "arguments": {
        "data": {"from_node": "rs"},
        "udf": "function(x, context) { x * 2 + 1 }",
        "runtime": "R"}, "result": true}}"""
    val (code, body) = http("POST", "/graph", graph)
    code shouldBe 200
    val out = body.split("\"output\":\"")(1).split("\"")(0)
    val df = spark.read.parquet(out)
    // 2 m regrid of the 2×2 grid keeps 4 cells per band/time
    df.select("x").distinct().count() shouldBe 2
    df.agg(org.apache.spark.sql.functions.min("value")).head().getDouble(0) should be > 1.0
  }

  test("POST /graph accepts a proj-string crs in filter_bbox") {
    // bbox corners in the cube's own CRS given as a +proj string: the
    // DefRef path round-trips through lon/lat (mm error) and keeps all
    // cells of the tiny grid
    val graph = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "c1"}},
      "bb": {"process_id": "filter_bbox", "arguments": {
        "data": {"from_node": "load"},
        "extent": {"west": -1, "south": -1, "east": 2, "north": 2,
          "crs": "+proj=utm +zone=32 +ellps=WGS84"}},
        "result": true}
    }"""
    val (code, body) = http("POST", "/graph", graph)
    code shouldBe 200
    val out = body.split("\"output\":\"")(1).split("\"")(0)
    spark.read.parquet(out).count() shouldBe 16 // nothing filtered
  }

  test("POST /graph with a typed openEO error returns the spec shape") {
    val graph = """{
      "load": {"process_id": "load_collection", "arguments": {"id": "c1"}},
      "d": {"process_id": "divide", "arguments": {
        "x": {"from_node": "load"}, "y": 0}, "result": true}}"""
    val (code, body) = http("POST", "/graph", graph)
    code shouldBe 400
    body should include(""""code":"DivisionByZero"""")
    body should include(""""message":"Division by zero""")
  }

  test("POST /graph error bodies stay valid JSON for control characters") {
    // \t, \r and U+0001 inside the crs string land verbatim in the typed
    // error message; the body must parse back to that exact message
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val crs = "+proj=nope\t+a=1\u0001\r+b=2"
    val graph = s"""{
      "load": {"process_id": "load_collection", "arguments": {"id": "c1"}},
      "bb": {"process_id": "filter_bbox", "arguments": {
        "data": {"from_node": "load"},
        "extent": {"west": -1, "south": -1, "east": 2, "north": 2,
          "crs": ${json.writeValueAsString(crs)}}},
        "result": true}
    }"""
    val (code, body) = http("POST", "/graph", graph)
    code shouldBe 400
    val err = json.readTree(body)
    err.get("code").asText shouldBe "CrsNotSupported"
    err.get("message").asText should endWith(crs)
  }

  test("POST /graph with a bad graph returns a JSON error") {
    val (code, body) = http("POST", "/graph",
      """{"load": {"process_id": "load_collection",
         "arguments": {"id": "unknown_coll"}, "result": true}}""")
    code shouldBe 500
    body should include("unknown collection")
  }

  test("DELETE /stop_job on an unknown job is a 404") {
    val (code, _) = http("DELETE", "/stop_job?id=deadbeef")
    code shouldBe 404
  }

  test("two concurrent identical NetCDF POSTs run the graph once and " +
      "reply with one output path") {
    def graph(pad: String) = s"""{
      "load": {"process_id": "load_collection", "arguments": {"id": "c1"}},
      "save": {"process_id": "save_result", "arguments": {
        "data": {"from_node": "load"}, "format": "NETCDF"}, "result": true}}$pad"""
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the job count of a group once the status store has caught up
    def jobsOf(group: String): Int = {
      var (n, last) = (-1, -2)
      while (n != last) {
        last = n; Thread.sleep(500)
        n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      }
      n
    }
    // the same graph under another md5 (trailing blank), run alone
    val (soloCode, _) = http("POST", "/graph", graph(" "))
    soloCode shouldBe 200
    val solo = jobsOf(md5(graph(" ")))
    solo should be > 0
    val start = new java.util.concurrent.CountDownLatch(1)
    val replies = (0 until 2).map { _ =>
      val f = new java.util.concurrent.CompletableFuture[(Int, String)]()
      new Thread(() => {
        start.await()
        f.complete(http("POST", "/graph", graph("")))
      }).start()
      f
    }
    start.countDown()
    val got = replies.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    got.map(_._1) shouldBe Seq(200, 200)
    got.map(_._2.split("\"output\":\"")(1).split("\"")(0)).distinct.size shouldBe 1
    got.count(_._2.contains(""""cached":false""")) shouldBe 1
    jobsOf(md5(graph(""))) shouldBe solo
  }

  /** A linear from_node chain of `n` nodes: a load, then `absolute`s. */
  def chain(n: Int): String = (1 until n).map(i =>
    s""""n$i":{"process_id":"absolute","arguments":{"x":{"from_node":"n${i - 1}"}}""" +
      (if (i == n - 1) ""","result":true}""" else "}"))
    .mkString("""{"n0":{"process_id":"load_collection","arguments":{"id":"c1"}},""", ",", "}")

  /** POST /graph, failing if the reply takes longer than 30 s. */
  def post30(graph: String): HttpResponse[String] = HttpClient.newHttpClient().send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}/graph"))
      .timeout(java.time.Duration.ofSeconds(30))
      .POST(HttpRequest.BodyPublishers.ofString(graph)).build(),
    HttpResponse.BodyHandlers.ofString())

  test("a graph that overflows the stack still gets a reply") {
    // a 100,000-node linear from_node chain: composing it would overflow
    // Catalyst's stack or run for minutes, so the node cap refuses it at
    // parse time
    val res = post30(chain(100000))
    res.statusCode() shouldBe 400
    val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(res.body())
    body.get("code").asText shouldBe "ProcessGraphComplexity"
    body.get("message").asText should include(graft.graph.ProcessGraph.MaxNodes.toString)
  }

  test("a from_node chain deeper than MaxDepth gets a 400; one at the " +
      "bound gets a result") {
    val max = graft.graph.ProcessGraph.MaxDepth
    // 1,000 nodes pass the node cap; composing the chain ended in a
    // StackOverflowError after 19 s
    val deep = post30(chain(1000))
    deep.statusCode() shouldBe 400
    val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(deep.body())
    body.get("code").asText shouldBe "ProcessGraphComplexity"
    body.get("message").asText should include(s"at most $max")
    val atBound = post30(chain(max))
    withClue(atBound.body()) { atBound.statusCode() shouldBe 200 }
  }

  test("POST /graph folds an all-literal graph through the process table; " +
      "an unknown process is a typed 400") {
    def one(p: String, args: String) = http("POST", "/graph",
      s"""{"n": {"process_id": "$p", "arguments": {$args}, "result": true}}""")
    for ((p, args, want) <- Seq(
        ("exp", """"x": 1""", StrictMath.exp(1.0).toString), // Spark's exp
        ("gt", """"x": 3, "y": 2""", "true"),
        ("clip", """"x": 5, "min": 0, "max": 1""", "1.0"))) {
      val (code, body) = one(p, args)
      withClue(s"$p: $body") { code shouldBe 200 }
      val out = body.split("\"output\":\"")(1).split("\"")(0)
      java.nio.file.Files.readString(java.nio.file.Paths.get(out)) shouldBe want
    }
    val (code, body) = one("frobnicate", """"x": 1""")
    code shouldBe 400
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      .get("code").asText shouldBe "ProcessUnsupported"
  }

  test("a request body over the bound gets a 413 JSON reply") {
    val limit = Server.MaxBodyBytes
    // raw HTTP/1.1 over a socket: returns (status, body) of the reply
    def exchange(head: String)(send: java.io.OutputStream => Unit): (Int, String) = {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      try {
        sock.setSoTimeout(60000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        out.write(("POST /graph HTTP/1.1\r\nHost: 127.0.0.1\r\n" + head +
          "\r\n").getBytes("US-ASCII"))
        send(out); out.flush()
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        def line(): String = {
          val b = new StringBuilder
          var c = in.read()
          while (c != '\n' && c != -1) { if (c != '\r') b += c.toChar; c = in.read() }
          b.toString
        }
        val status = line().split(" ")(1).toInt
        val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).toSeq
        val len = headers.collectFirst {
          case h if h.toLowerCase.startsWith("content-length:") =>
            h.split(":")(1).trim.toInt }.get
        val body = new Array[Byte](len); in.readFully(body)
        (status, new String(body, "UTF-8"))
      } finally sock.close()
    }
    def check(reply: (Int, String)): Unit = {
      reply._1 shouldBe 413
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(reply._2)
        .get("error").asText should include(limit.toString)
    }
    // a declared length over the bound is answered before any body byte
    check(exchange(s"Content-Length: ${limit + 1L}\r\n")(_ => ()))
    // a chunked body is read up to one byte past the bound
    check(exchange("Transfer-Encoding: chunked\r\n") { out =>
      val chunk = Array.fill[Byte](1 << 20)(' '.toByte)
      def send(n: Int): Unit = {
        out.write(s"${Integer.toHexString(n)}\r\n".getBytes("US-ASCII"))
        out.write(chunk, 0, n); out.write("\r\n".getBytes("US-ASCII"))
      }
      (0 until limit / chunk.length).foreach(_ => send(chunk.length))
      send(1)
      out.write("0\r\n\r\n".getBytes("US-ASCII"))
    })
  }
}
