package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.{Catalog, Server}
import graft.compile.GraphCompiler
import graft.cube.Cube
import graft.graph.ProcessGraph
import graft.ops.Sinks
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicLong, AtomicReferenceArray}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import scala.util.control.NonFatal

/** One drawn openEO request: a template, its pixel window (inclusive
  * column/row ranges i0..i1, j0..j1), its scene window t0..t1 and the
  * template's own constants. */
final case class Req(template: String, i0: Int, i1: Int, j0: Int, j1: Int,
    t0: Int, t1: Int, bands: Seq[Int] = Nil, res: Int = 0, p: Double = 0,
    polys: Seq[Seq[(Double, Double)]] = Nil)

/** The four process-graph templates, drawn from a seeded generator, and
  * the plain-Scala recomputation of each one's result. */
final class Templates(g: S2Gen) {
  val Names: Seq[String] = Seq("ndvi_median_gtiff", "monthly_mean_netcdf",
    "zonal_mean_json", "resample_apply_png")

  private def span(r: scala.util.Random, lo: Int, hi: Int, n: Int): (Int, Int) = {
    val w = lo + r.nextInt(hi - lo + 1)
    val a = r.nextInt(n - w + 1)
    (a, a + w - 1)
  }

  /** Lattice of 2.5 m used for polygon edges, starting half a pixel before
    * pixel centre 0: indices ≡ 2 (mod 4) fall on pixel centres and are
    * skipped, so every edge passes at least 2.5 m
    * from any pixel centre and the point-in-polygon answer is robust to
    * the lon/lat round trip. */
  private val L = g.D / 4
  private def offCentre(k: Int, dir: Int = 1): Int = if (Math.floorMod(k, 4) == 2) k + dir else k

  /** Rectilinear "histogram" polygon with `m` columns (4m vertices). */
  private def polygon(r: scala.util.Random, kx0: Int, cy: Int, m: Int): (Seq[(Double, Double)], Int) = {
    val xs = ArrayBuffer(offCentre(kx0))
    while (xs.size <= m) xs += offCentre(xs.last + 1 + r.nextInt(4))
    def edge(prev: Option[Int], lo: Int, hi: Int, sign: Int): Int = {
      var v = offCentre(cy + sign * (lo + r.nextInt(hi - lo)), sign)
      while (prev.contains(v)) v = offCentre(v + sign, sign)
      v
    }
    val tops = ArrayBuffer[Int](); val bots = ArrayBuffer[Int]()
    (0 until m).foreach { c =>
      tops += edge(tops.lastOption, 2, 30, 1)
      bots += edge(bots.lastOption, 2, 30, -1)
    }
    val top = (0 until m).flatMap(c => Seq((xs(c), tops(c)), (xs(c + 1), tops(c))))
    val bot = (m - 1 to 0 by -1).flatMap(c => Seq((xs(c + 1), bots(c)), (xs(c), bots(c))))
    val ring = (top ++ bot).map { case (kx, ky) =>
      (g.X0 - g.D / 2 + kx * L, g.Y0 - g.D / 2 + ky * L) }
    (ring, xs.last)
  }

  /** Vertices per zonal polygon (4 per histogram column), cycled. */
  val Vertices: Seq[Int] = Seq(8, 16, 32)
  /** Window of every raster request: pixels per side and scenes. */
  val Side = 32
  val Scenes = 5

  /** Draw request number `slot`: the slot fixes the template and, for
    * zonal requests, the vertex count, so every run has the same mix;
    * the seeded generator draws windows, dates and constants. */
  def draw(r: scala.util.Random, slot: Int, vertices: Option[Int] = None): Req = {
    val tpl = if (vertices.isDefined) "zonal_mean_json" else Names(slot % Names.size)
    val (t0, t1) = span(r, Scenes, Scenes, g.T)
    tpl match {
      case "ndvi_median_gtiff" =>
        val (i0, i1) = span(r, Side, Side, g.N); val (j0, j1) = span(r, Side, Side, g.N)
        Req(tpl, i0, i1, j0, j1, t0, t1)
      case "monthly_mean_netcdf" =>
        val (i0, i1) = span(r, Side, Side, g.N); val (j0, j1) = span(r, Side, Side, g.N)
        val bands = r.shuffle((0 until 4).toList).take(2).sorted
        Req(tpl, i0, i1, j0, j1, t0, t1, bands = bands)
      case "resample_apply_png" =>
        val (i0, i1) = span(r, Side, Side, g.N); val (j0, j1) = span(r, Side, Side, g.N)
        Req(tpl, i0, i1, j0, j1, t0, t1, res = Seq(20, 30, 40)(r.nextInt(3)),
          p = 0.5 + 1.5 * r.nextDouble())
      case "zonal_mean_json" =>
        // two polygons side by side, each with V = 4m vertices
        val m = vertices.getOrElse(Vertices((slot / Names.size) % Vertices.size)) / 4
        val cy = 4 * (10 + r.nextInt(g.N - 20)) + 2
        var kx = 4 * (2 + r.nextInt(g.N / 8)) + 1
        val polys = (0 until (if (vertices.isDefined) 1 else 2)).map { _ =>
          val (ring, end) = polygon(r, kx, cy, m)
          kx = end + 4 + r.nextInt(16)
          ring
        }
        val xsAll = polys.flatten.map(_._1); val ysAll = polys.flatten.map(_._2)
        def idx(v: Double, o: Double) = ((v - o) / g.D).round.toInt
        val i0 = math.max(0, idx(xsAll.min, g.X0) - 1)
        val i1 = math.min(g.N - 1, idx(xsAll.max, g.X0) + 1)
        val j0 = math.max(0, idx(ysAll.min, g.Y0) - 1)
        val j1 = math.min(g.N - 1, idx(ysAll.max, g.Y0) + 1)
        val s0 = r.nextInt(g.T - 3)
        Req(tpl, i0, i1, j0, j1, s0, s0 + r.nextInt(3),
          bands = Seq(Seq(2, 3)(r.nextInt(2))), polys = polys)
    }
  }

  private def bandList(bs: Seq[Int]) = bs.map(b => "\"" + g.Bands(b) + "\"").mkString("[", ",", "]")
  private def extent(q: Req) =
    s"""{"west":${g.x(q.i0) - g.D / 2},"south":${g.y(q.j0) - g.D / 2},""" +
    s""""east":${g.x(q.i1) + g.D / 2},"north":${g.y(q.j1) + g.D / 2},"crs":32632}"""
  private def temporal(q: Req) =
    s"""["${g.date(q.t0)}","${g.date(q.t1).plusDays(1)}"]"""
  private def reducer(p: String) =
    s"""{"process_graph":{"r":{"process_id":"$p","arguments":{"data":{"from_parameter":"data"}},"result":true}}}"""
  private def load(q: Req, bands: Seq[Int], spatial: Boolean = true) =
    s""""load":{"process_id":"load_collection","arguments":{"id":"s2_l2a",""" +
    s""""bands":${bandList(bands)},""" +
    (if (spatial) s""""spatial_extent":${extent(q)},""" else "") +
    s""""temporal_extent":${temporal(q)}}}"""
  private def save(from: String, fmt: String, opts: String = "") =
    s""""save":{"process_id":"save_result","arguments":{"data":{"from_node":"$from"},""" +
    s""""format":"$fmt"$opts},"result":true}"""

  def json(q: Req): String = q.template match {
    case "ndvi_median_gtiff" =>
      val nd = """{"process_graph":{
        |"red":{"process_id":"array_element","arguments":{"data":{"from_parameter":"data"},"label":"B04"}},
        |"nir":{"process_id":"array_element","arguments":{"data":{"from_parameter":"data"},"label":"B08"}},
        |"nd":{"process_id":"normalized_difference","arguments":{"x":{"from_node":"nir"},"y":{"from_node":"red"}},"result":true}}}""".stripMargin
      s"""{${load(q, Seq(2, 3))},
         |"ndvi":{"process_id":"reduce_dimension","arguments":{"data":{"from_node":"load"},"dimension":"bands","reducer":$nd}},
         |"med":{"process_id":"reduce_dimension","arguments":{"data":{"from_node":"ndvi"},"dimension":"t","reducer":${reducer("median")}}},
         |${save("med", "GTIFF")}}""".stripMargin
    case "monthly_mean_netcdf" =>
      s"""{${load(q, q.bands, spatial = false)},
         |"bb":{"process_id":"filter_bbox","arguments":{"data":{"from_node":"load"},"extent":${extent(q)}}},
         |"agg":{"process_id":"aggregate_temporal_period","arguments":{"data":{"from_node":"bb"},"period":"month","reducer":${reducer("mean")}}},
         |${save("agg", "NETCDF")}}""".stripMargin
    case "zonal_mean_json" =>
      val feats = q.polys.map { ring =>
        val ll = (ring :+ ring.head).map { case (x, y) =>
          val (lon, lat) = Utm32.toLonLat(x, y); s"[$lon,$lat]" }
        s"""{"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":[${ll.mkString("[", ",", "]")}]}}"""
      }.mkString("[", ",", "]")
      s"""{${load(q, q.bands)},
         |"zs":{"process_id":"aggregate_spatial","arguments":{"data":{"from_node":"load"},"geometries":{"type":"FeatureCollection","features":$feats},"reducer":${reducer("mean")}}},
         |${save("zs", "JSON")}}""".stripMargin
    case "resample_apply_png" =>
      s"""{${load(q, Seq(2))},
         |"rs":{"process_id":"resample_spatial","arguments":{"data":{"from_node":"load"},"resolution":${q.res},"method":"near"}},
         |"tmax":{"process_id":"reduce_dimension","arguments":{"data":{"from_node":"rs"},"dimension":"t","reducer":${reducer("max")}}},
         |"ap":{"process_id":"apply","arguments":{"data":{"from_node":"tmax"},"process":{"process_graph":{"p":{"process_id":"power","arguments":{"base":{"from_parameter":"x"},"p":${q.p}},"result":true}}}}},
         |${save("ap", "PNG", ""","options":{"gray":"B04"}""")}}""".stripMargin
  }

  // ------------------------------------------------------------ checks

  private def median(xs: Seq[Double]): Double = Stats.median(xs)
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-5 * math.max(1.0, math.abs(b)) || (a.isNaN && b.isNaN)

  /** Even-odd ray casting, written independently of the engine's. */
  private def inside(px: Double, py: Double, ring: Seq[(Double, Double)]): Boolean = {
    var in = false
    var k = 0; var l = ring.size - 1
    while (k < ring.size) {
      val (xk, yk) = ring(k); val (xl, yl) = ring(l)
      if ((yk > py) != (yl > py) && px < (xl - xk) * (py - yk) / (yl - yk) + xk) in = !in
      l = k; k += 1
    }
    in
  }

  /** None when `output` holds the right answer for `q`, else the reason. */
  def check(q: Req, output: String, ctx: Ctx): Option[String] = {
    val dir = new java.io.File(output).getParent
    val ts = q.t0 to q.t1
    q.template match {
      case "ndvi_median_gtiff" =>
        val (_, planes) = Sinks.readGTiff(s"$dir/result.tif")
        val h = q.j1 - q.j0 + 1; val w = q.i1 - q.i0 + 1
        val p = planes.head
        if (planes.length != 1 || p.length != h || p(0).length != w)
          return Some(s"raster ${planes.length}x${p.length}x${p(0).length}, want 1x${h}x$w")
        for (row <- 0 until h; c <- 0 until w) {
          val j = q.j1 - row; val i = q.i0 + c
          val want = median(ts.map { t =>
            val red = g.value(2, t, i, j).toDouble; val nir = g.value(3, t, i, j).toDouble
            (nir - red) / (nir + red) })
          if (!close(p(row)(c), want)) return Some(s"ndvi($i,$j)=${p(row)(c)} want $want")
        }
        None
      case "monthly_mean_netcdf" =>
        val got = ctx.spark.read.format("graft-netcdf").load(s"$dir/result.nc")
          .collect().map(r => (r.getAs[Any]("band").toString,
            r.getAs[java.sql.Timestamp]("time").toLocalDateTime.toLocalDate.withDayOfMonth(1),
            ((r.getAs[Double]("x") - g.X0) / g.D).round.toInt,
            ((r.getAs[Double]("y") - g.Y0) / g.D).round.toInt) -> r.getAs[Any]("value"))
          .toMap
        val want = for {
          b <- q.bands; (month, tt) <- ts.groupBy(t => g.date(t).withDayOfMonth(1))
          i <- q.i0 to q.i1; j <- q.j0 to q.j1
        } yield (g.Bands(b), month, i, j) -> tt.map(t => g.value(b, t, i, j).toDouble).sum / tt.size
        if (got.size != want.size) return Some(s"${got.size} cells, want ${want.size}")
        want.collectFirst { case (k, v) if !got.get(k).exists(x => close(x.toString.toDouble, v)) =>
          s"mean$k=${got.get(k)} want $v" }
      case "zonal_mean_json" =>
        val rows = Main.mapper.readTree(new java.io.File(s"$dir/result.json")).elements().asScala.toSeq
        val got = rows.map(r => (r.get("time").asText.take(10), r.get("result").asInt) ->
          r.get("value").asDouble).toMap
        val b = q.bands.head
        val want = for {
          (ring, k) <- q.polys.zipWithIndex
          cells = for (i <- q.i0 to q.i1; j <- q.j0 to q.j1
            if inside(g.x(i), g.y(j), ring)) yield (i, j)
          if cells.nonEmpty
          t <- ts
        } yield (g.date(t).toString, k) ->
          cells.map { case (i, j) => g.value(b, t, i, j).toDouble }.sum / cells.size
        if (got.size != want.size) return Some(s"${got.size} zone means, want ${want.size}")
        want.collectFirst { case (key, v) if !got.get(key).exists(close(_, v)) =>
          s"zone$key=${got.get(key)} want $v" }
      case "resample_apply_png" =>
        val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/result.png"))
        val rd = q.res.toDouble
        def tIdx(v: Double, o: Double) = math.round((v - o) / rd)
        // nearest source pixel per target cell, ties broken on (y, x)
        val src = for (i <- q.i0 to q.i1; j <- q.j0 to q.j1) yield {
          val tx = tIdx(g.x(i), g.X0); val ty = tIdx(g.y(j), g.Y0)
          val cx = g.X0 + tx * rd; val cy = g.Y0 + ty * rd
          val d2 = (g.x(i) - cx) * (g.x(i) - cx) + (g.y(j) - cy) * (g.y(j) - cy)
          ((tx, ty), (d2, g.y(j), g.x(i), i, j))
        }
        val cell = src.groupBy(_._1).map { case (k, v) =>
          val (_, _, _, i, j) = v.map(_._2).minBy(s => (s._1, s._2, s._3))
          k -> math.pow(ts.map(t => g.value(2, t, i, j)).max.toDouble, q.p)
        }
        val txs = cell.keys.map(_._1).toSeq.distinct.sorted
        val tys = cell.keys.map(_._2).toSeq.distinct.sorted.reverse
        if (img.getWidth != txs.size || img.getHeight != tys.size)
          return Some(s"png ${img.getWidth}x${img.getHeight}, want ${txs.size}x${tys.size}")
        val lo = cell.values.min; val hi = cell.values.max
        val span = if (hi > lo) hi - lo else 1.0
        (for (r <- tys.indices; c <- txs.indices) yield (r, c)).collectFirst {
          case (r, c) if {
            val want = ((cell((txs(c), tys(r))) - lo) / span * 255.0).round.toInt
            math.abs((img.getRGB(c, r) & 0xff) - want) > 1
          } => s"png pixel ($c,$r)=${img.getRGB(c, r) & 0xff}"
        }
    }
  }
}

/** The openEO serve workload: a closed loop of 4 client threads POSTing
  * process graphs to an in-process `graft.api.Server` over loopback; each
  * client sends its next graph only after the previous reply. */
object Serve {
  val Clients = 4
  /** Every 5th request of a client re-sends another client's graph (a
    * 20% share), alternately one that has completed (a cache hit) and one
    * that another client is still waiting for (an in-flight duplicate). */
  val RepeatEvery = 5
  /** In-flight duplicates of this template are not sent in the workload:
    * the server runs a duplicate again, both runs write one parquet
    * directory, and one of them fails (HTTP 500, `_temporary/0 does not
    * exist`). [[duplicateProbe]] measures that failure in traced runs. */
  val NoInFlightResend = "monthly_mean_netcdf"
  /** Untimed warm-up requests per client before the timed window. Miss
    * latency falls to about a third of its cold value over the first
    * ~80 requests (JIT compilation of the engine's hot paths) and is
    * flat after that, so the timed window starts on the plateau. */
  val WarmRequests = 20
  /** A request without a reply by then counts as failed. */
  val Timeout: java.time.Duration = java.time.Duration.ofSeconds(60)
  /** Latency of a failed request, ms. */
  val Failed = 1e9
  /** Layer probes per template in a traced run. */
  val ProbesPerTemplate = 4

  private final case class Done(req: Req, json: String, md5: String,
      sendNs: Long, endNs: Long, code: Int, body: String,
      dupAtSend: Boolean, client: Int = -1) {
    def ms: Double = (endNs - sendNs) / 1e6
    def ok: Boolean = code == 200 && body.contains("\"output\"")
    def cached: Boolean = body.contains("\"cached\":true")
    def output: String = Main.mapper.readTree(body).get("output").asText
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val g = new S2Gen(ctx.seed)
    val tpl = new Templates(g)
    val spec = ctx.setupPhase("generate") {
      g.write(spark, s"${ctx.workDir}/s2_l2a")
    }
    ctx.input("grid", s"${g.N}x${g.N} px at ${g.D} m, ${g.T} scenes, ${g.Bands.size} bands")
    ctx.input("collection_rows", g.rows)
    val catalog = new Catalog(Map("s2_l2a" -> spec))
    val resultRoot = s"${ctx.workDir}/results"
    val server = new Server(spark, catalog, resultRoot).start()
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val url = URI.create(s"http://127.0.0.1:${server.boundPort}/graph")
    val inFlight = new ConcurrentHashMap[String, AtomicLong]()
    val missDone = ConcurrentHashMap.newKeySet[String]()

    def post(q: Req): Done = {
      val body = tpl.json(q)
      val md5 = Main.md5(body)
      val dup = inFlight.computeIfAbsent(md5, _ => new AtomicLong).getAndIncrement() > 0 ||
        missDone.contains(md5)
      val t0 = System.nanoTime()
      val (code, resp) =
        try {
          val r = http.send(HttpRequest.newBuilder(url).timeout(Timeout)
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          (r.statusCode(), r.body())
        } catch { case NonFatal(e) => (-1, String.valueOf(e)) }
      val d = Done(q, body, md5, t0, System.nanoTime(), code, resp, dup)
      inFlight.get(md5).decrementAndGet()
      if (d.ok && !d.cached) missDone.add(md5)
      d
    }

    /** Closed loop of free-running clients: each draws from its own
      * seeded generator and sends its next graph as soon as the reply to
      * the previous one arrives; every [[RepeatEvery]]th request re-sends
      * another client's graph (see [[RepeatEvery]]). A re-send finds no
      * candidate only when no other client has one; it then draws a new
      * graph.
      *
      * A client stops after `perClient` requests or at `end`. The requests
      * it sent before `end` are the loop's; a client that has finished
      * them keeps sending drain requests (returned apart) until every
      * client has its last reply, so the last requests of the window run
      * under the same load as the rest rather than on an emptying server. */
    def loop(salt: Long, end: Long, perClient: Int = Int.MaxValue): (Seq[Done], Seq[Done]) = {
      val latest = new AtomicReferenceArray[Req](Clients) // last completed
      val sending = new AtomicReferenceArray[Req](Clients) // awaiting reply
      val out, drain = new ConcurrentLinkedQueue[Done]()
      val busy = new CountDownLatch(Clients)
      val threads = (0 until Clients).map { c =>
        val t = new Thread(() => {
          val r = new scala.util.Random(ctx.seed * 7919 + salt * 104729 + c)
          var slot = c
          var n = 0
          def others(a: AtomicReferenceArray[Req]) =
            (1 until Clients).iterator.map(k => Option(a.get((c + k) % Clients))).flatten
          while (n < perClient && System.nanoTime() < end) {
            n += 1
            val resend =
              if ((n + c) % RepeatEvery != 0) None
              else if ((n + c) / RepeatEvery % 2 == 1) others(latest).nextOption()
              else others(sending).find(_.template != NoInFlightResend)
            val q = resend.getOrElse { slot += 1; tpl.draw(r, slot) }
            sending.set(c, q)
            val d = post(q)
            sending.set(c, null)
            if (d.ok) latest.set(c, q)
            out.add(d.copy(client = c))
          }
          busy.countDown()
          while (end != Long.MaxValue && busy.getCount > 0) {
            slot += 1
            drain.add(post(tpl.draw(r, slot)))
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (out.asScala.toSeq, drain.asScala.toSeq)
    }
    val drained = ArrayBuffer[Done]()
    def timedLoop(salt: Long, seconds: Double): (Seq[Done], Long) = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val (ds, dr) = loop(salt, end)
      drained ++= dr
      (ds, end)
    }

    // set-up: warm every template (codegen, JIT, scan planning) untimed;
    // its replies are attempted operations like any other
    val warm = ctx.setupPhase("warm") { loop(1, Long.MaxValue, WarmRequests)._1 }
    Heap.checkpoint()
    ctx.calibrate("pre")

    // timed region. A traced run traces the middle half of it only, so
    // the untraced quarters before and after give the tracing overhead
    // (drift over the window, such as late JIT work, cancels out).
    val probeStats = new ConcurrentHashMap[String, ArrayBuffer[Map[String, Any]]]()
    // a window's throughput: each client's successful replies over the
    // time from the window's start to its last reply, summed over clients
    def window(seconds: Double, salt: Long): (Seq[Done], Double) = {
      val (ds, end) = timedLoop(salt, seconds)
      val t0 = end - (seconds * 1e9).toLong
      (ds, ds.groupBy(_.client).values.map(cs =>
        cs.count(_.ok) / ((cs.map(_.endNs).max - t0) / 1e9)).sum)
    }
    val (first, firstRate, second) =
      if (!ctx.traced) { val (ds, rate) = window(ctx.seconds, 2); (ds, rate, Nil) }
      else {
        val (before, r0) = window(ctx.seconds / 4.0, 2)
        val p = new Probe(spark).start()
        val c0 = p.snapshot()
        val drainedBefore = drained.size
        val (traced, _) = timedLoop(3, ctx.seconds / 2.0)
        p.fence()
        ctx.methodBytesMax = p.methodBytesMax
        val all = p.snapshot() - c0
        p.stop()
        val misses = traced.filter(d => d.ok && !d.cached)
        // the counters also hold the traced window's drain requests
        val executed = (traced ++ drained.drop(drainedBefore)).count(d => d.ok && !d.cached)
        ctx.layerCounters(all, math.max(1, executed))
        // exec counters per miss come from the request's own job group
        val perReq = misses.map(d => p.group(d.md5))
        if (perReq.nonEmpty) ctx.execCounters(perReq.reduce(_ + _), perReq.size)
        val (after, r1) = window(ctx.seconds / 4.0, 4)
        // layer probes run after the timed region, on a quiet server, so
        // they add nothing to its counters or latencies
        val live = new Probe(spark).start()
        misses.groupBy(_.req.template).values.flatMap(_.distinctBy(_.md5).take(ProbesPerTemplate))
          .foreach(d => probeLayers(ctx, catalog, d, live, p.group(d.md5), probeStats))
        live.stop()
        duplicateProbe(ctx, tpl, post)
        // a 512-vertex polygon, the top of the usual zonal range: does the
        // server still answer? (Deep ray-casting expressions have overflowed the
        // request thread's stack; the client then waits forever.)
        val deep = new scala.util.Random(ctx.seed).pipe(r => tpl.draw(r, 0, Some(512)))
        val t = new Thread(() => { val d = post(deep); ctx.info("deep_polygon_reply", d.code) })
        t.setDaemon(true); t.start(); t.join(10000)
        ctx.metric("api.deep_polygon_ok", if (!t.isAlive && ctx.info.get("deep_polygon_reply").contains(200)) 1 else 0)
        (before ++ after, (r0 + r1) / 2, traced)
      }
    Heap.checkpoint()
    ctx.calibrate("post")
    server.stop()

    // ---- metrics (untraced part only for the end-to-end figures)
    // a failed request counts as infinite latency, written as 1e9 ms
    def lat(ds: Seq[Done]) = ds.map(d => if (d.ok) d.ms else Failed)
    def q(xs: Seq[Double], p: Double) = Stats.hdQuantile(xs, p)
    val misses = first.filter(d => !d.ok || !d.cached)
    val hits = first.filter(d => d.ok && d.cached)
    ctx.metric("req_p50_ms", q(lat(misses), 0.5))
    ctx.metric("req_p90_ms", q(lat(misses), 0.9))
    ctx.metric("req_per_s", firstRate)
    ctx.metric("pass_s", tpl.Names.map(n =>
      q(lat(misses.filter(_.req.template == n)), 0.5) / 1e3).sum)
    ctx.info("miss_ms", misses.map(d => (d.req.template, lat(Seq(d)).head)))
    // the after-set-up reading follows a fixed amount of work; the
    // after-window one grows with the requests served (Spark keeps a
    // record of each job and query), so it is kept as information only
    ctx.metric("live_heap_peak_mb", Heap.checkpointsMb.head)
    ctx.info("heap_checkpoints_mb", Heap.checkpointsMb)
    ctx.info("requests_before_heap_checkpoints",
      Seq(warm.size, warm.size + first.size + second.size + drained.size))
    ctx.info("miss_samples", misses.size)
    ctx.info("template_miss_p50_ms", tpl.Names.map(n =>
      n -> Stats.median(misses.filter(_.req.template == n).map(_.ms))).toMap)
    ctx.info("hit_samples", hits.size)
    ctx.info("inflight_resends", first.count(d => d.dupAtSend && !d.cached))
    ctx.info("timed_s", if (ctx.traced) ctx.seconds / 2.0 else ctx.seconds.toDouble)
    val timed = first ++ second
    ctx.metric("api.hit_ratio", timed.count(d => d.ok && d.cached).toDouble /
      math.max(1, timed.count(_.ok)))
    ctx.metric("api.hit_p50_ms", Stats.median(timed.filter(d => d.ok && d.cached).map(_.ms)))
    ctx.metric("api.dup_exec", timed.count(d => d.ok && !d.cached && d.dupAtSend) +
      ctx.metrics.getOrElse("api.dup_exec", 0.0))
    if (ctx.traced) {
      val sm = second.filter(d => !d.ok || !d.cached)
      val tracedP50 = q(lat(sm), 0.5)
      ctx.metric("trace.overhead_ratio", tracedP50 / q(lat(misses), 0.5))
      val probes = probeStats.asScala.values.flatten.toSeq
      def pm(k: String) = Stats.median(probes.map(_(k).asInstanceOf[Double]))
      Seq("graph.parse_ms" -> "parse_ms", "compile.compose_ms" -> "compose_ms",
        "compile.eager_jobs" -> "eager_jobs", "sinks.write_ms" -> "write_ms",
        "sinks.out_kb" -> "out_kb").foreach { case (m, k) => ctx.metric(m, pm(k)) }
      ctx.info("templates_table", tpl.Names.map { n =>
        val ms = sm.filter(_.req.template == n)
        val ps = Option(probeStats.get(n)).map(_.toSeq).getOrElse(Nil)
        def med(k: String) = Stats.median(ps.map(_(k).asInstanceOf[Double]))
        Map("template" -> n, "misses" -> ms.size,
          "p50_ms" -> q(lat(ms), 0.5), "p90_ms" -> q(lat(ms), 0.9),
          "parse_ms" -> med("parse_ms"), "compose_ms" -> med("compose_ms"),
          "eager_jobs" -> med("eager_jobs"), "write_ms" -> med("write_ms"),
          "out_kb" -> med("out_kb"), "jobs" -> med("jobs"),
          "task_run_ms" -> med("task_run_ms"), "task_cpu_ms" -> med("task_cpu_ms"),
          "plans" -> ps.map(_("plan")).distinct)
      })
    }

    // ---- every reply, warm-up included: attempted, failures, output checks
    val phases = Seq("warm-up" -> warm, "request" -> first, "traced request" -> second,
      "drain" -> drained.toSeq)
    val everything = phases.flatMap(_._2)
    phases.foreach { case (phase, ds) =>
      ds.foreach { d =>
        ctx.attempt()
        if (!d.ok) ctx.fail(d.req.template, phase, s"HTTP ${d.code}: ${d.body.take(300)}")
        ctx.trace.record(Span(ctx.trace.nextId(), 0, "request", s"${d.req.template}:${d.md5}",
          d.sendNs, d.endNs, Map("cached" -> (if (d.cached) 1L else 0L), "status" -> d.code.toLong)))
      }
    }
    // outside the timed region
    val firstMiss = everything.filter(d => d.ok && !d.cached)
      .groupBy(_.md5).values.map(_.minBy(_.endNs))
    firstMiss.foreach { d =>
      try tpl.check(d.req, d.output, ctx).foreach(ctx.fail(d.req.template, "output check", _))
      catch { case NonFatal(e) => ctx.fail(d.req.template, "output check", e) }
    }
    // every reply for one graph must name the same artifact
    everything.filter(_.ok).groupBy(_.md5).foreach { case (_, ds) =>
      if (ds.map(_.output).distinct.size > 1)
        ctx.fail(ds.head.req.template, "output check", s"replies disagree: ${ds.map(_.output).distinct}")
    }
    ctx.info("checked_outputs", firstMiss.size)
  }

  /** Known-defect probe (traced runs): each template's graph is sent by
    * two clients at once. The server runs both (no in-flight dedup), so
    * `api.dup_exec` counts the second `cached:false` execution and
    * `api.dup_failed` the replies that failed because both runs wrote the
    * same result directory. Probe replies are not workload operations. */
  private def duplicateProbe(ctx: Ctx, tpl: Templates, post: Req => Done): Unit = {
    val r = new scala.util.Random(ctx.seed * 31 + 5)
    val replies = tpl.Names.indices.flatMap { k =>
      val q = tpl.draw(r, k)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
      val ts = (0 until 2).map { c =>
        val t = new Thread(() => { out.add(post(q)); () }); t.start(); t }
      ts.foreach(_.join())
      out.asScala.toSeq
    }
    ctx.metric("api.dup_exec", replies.groupBy(_.md5).values
      .map(ds => math.max(0, ds.count(d => d.ok && !d.cached) - 1)).sum.toDouble)
    ctx.metric("api.dup_failed", replies.count(!_.ok).toDouble)
    ctx.info("duplicate_probe", replies.map(d => Map("template" -> d.req.template,
      "status" -> d.code, "cached" -> d.cached, "body" -> d.body.take(200))))
  }

  /** Layer probe for one traced miss, after the timed region: parse the
    * graph, compose it without its save_result node, count the jobs the
    * compose step starts (listener `p`), then time `Sinks.saveResult` on
    * the value. `ex` holds the traced request's own execution counters. */
  private def probeLayers(ctx: Ctx, catalog: Catalog, d: Done, p: Probe,
      ex: Counters, stats: ConcurrentHashMap[String, ArrayBuffer[Map[String, Any]]]): Unit =
    try {
      val sc = ctx.spark.sparkContext
      val t0 = System.nanoTime()
      val graph = ProcessGraph.parse(d.json)
      val t1 = System.nanoTime()
      val save = graph.resultNode
      val data = save.arguments("data") match {
        case ProcessGraph.FromNode(id) => id
        case other => throw new IllegalStateException(s"save_result data $other")
      }
      val fmt = Option(save.arguments("format")).collect {
        case ProcessGraph.LitArg(v) => v.asText }.getOrElse("PARQUET")
      val opts: Option[JsonNode] = save.arguments.get("options").collect {
        case ProcessGraph.LitArg(v) => v }
      val body2 = graph.copy(nodes = (graph.nodes - save.id).map {
        case (id, n) if id == data => id -> n.copy(result = true)
        case kv => kv })
      val group = s"probe-${d.md5}-${System.nanoTime()}"
      val dir = s"${ctx.workDir}/probe/${d.md5}"
      sc.setJobGroup(group, "compose probe")
      val (value, t2) = try {
        val v = new GraphCompiler(ctx.spark, catalog.specs, dir).run(body2)
        (v, System.nanoTime())
      } finally sc.clearJobGroup()
      p.fence()
      val eager = p.group(group)("jobs")
      val plan = value match {
        case c: Cube => Batch.planFingerprint(c.df, maskLiterals = true)
        case ds: org.apache.spark.sql.Dataset[_] => Batch.planFingerprint(ds.toDF(), maskLiterals = true)
        case _ => "scalar"
      }
      val t3 = System.nanoTime()
      val out = Sinks.saveResult(value, fmt, dir, opts)
      val t4 = System.nanoTime()
      val outDir = new java.io.File(out).getParentFile
      val kb = Option(outDir.listFiles).map(_.filter(_.getName.startsWith("result"))
        .map(f => if (f.isDirectory) Option(f.listFiles).map(_.map(_.length).sum).getOrElse(0L)
          else f.length).sum).getOrElse(0L) / 1024.0
      stats.computeIfAbsent(d.req.template, _ => ArrayBuffer()).synchronized {
        stats.get(d.req.template) += Map("parse_ms" -> (t1 - t0) / 1e6,
          "compose_ms" -> (t2 - t1) / 1e6, "eager_jobs" -> eager.toDouble,
          "write_ms" -> (t4 - t3) / 1e6, "out_kb" -> kb, "plan" -> plan,
          "jobs" -> ex("jobs").toDouble, "task_run_ms" -> ex("task_run_ms").toDouble,
          "task_cpu_ms" -> ex("task_cpu_ns") / 1e6)
      }
      val id = ctx.trace.nextId()
      ctx.trace.record(Span(id, 0, "probe", s"${d.req.template}:${d.md5}", t0, t4, Map.empty))
      ctx.trace.record(Span(ctx.trace.nextId(), id, "graph.parse", d.md5, t0, t1, Map.empty))
      ctx.trace.record(Span(ctx.trace.nextId(), id, "compile.compose", d.md5, t1, t2,
        Map("jobs" -> eager)))
      ctx.trace.record(Span(ctx.trace.nextId(), id, "sinks.save_result", d.md5, t3, t4, Map.empty))
    } catch { case NonFatal(e) => ctx.fail(d.req.template, "layer probe", e) }
}
