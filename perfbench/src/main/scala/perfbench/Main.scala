package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of quantile q: a Beta-weighted mean of all
    * order statistics. On a few dozen samples it varies much less from
    * sample to sample than the one or two order statistics `quantile`
    * reads. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    if (xs.size < 2) return xs.headOption.getOrElse(Double.NaN)
    val s = xs.sorted
    val n = s.size
    val beta = new BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
    var acc = 0.0; var prev = 0.0
    for (i <- 1 to n) {
      val c = beta.cumulativeProbability(i.toDouble / n)
      acc += (c - prev) * s(i - 1)
      prev = c
    }
    acc
  }
}

/** Everything one run records: its metrics, failures, inputs and the
  * metadata that lets a reader tell host noise from a plan change. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val dataDir: String,
    val workDir: String) {
  val trace = new Trace(traced)
  val metrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[Map[String, String]]()
  private val attempts = new AtomicLong
  @volatile var methodBytesMax = 0L

  def attempt(n: Long = 1): Unit = attempts.addAndGet(n)
  def attempted: Long = attempts.get
  def metric(k: String, v: Double): Unit = synchronized(metrics(k) = v)
  def info(k: String, v: Any): Unit = synchronized(info(k) = v)
  def input(k: String, v: Any): Unit = synchronized(inputs(k) = v)
  def fail(op: String, phase: String, cause: Any): Unit = synchronized {
    val msg = cause match {
      case e: Throwable => s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      case other => String.valueOf(other).take(300)
    }
    failures += Map("op" -> op, "phase" -> phase, "cause" -> msg)
  }

  /** Time one named part of set-up into `setup.<name>_s`. */
  def setupPhase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally metric(s"setup.${name}_s", (System.nanoTime() - t0) / 1e9)
  }

  def calibrate(tag: String): Unit = {
    val (one, all) = Calibration.run(Runtime.getRuntime.availableProcessors())
    info(s"cal_$tag", Map("single_s" -> one, "all_s" -> all))
    metric("host.cal_single_s", metrics.getOrElse("host.cal_single_s", 0.0) + one / 2)
    metric("host.cal_all_s", metrics.getOrElse("host.cal_all_s", 0.0) + all / 2)
  }

  /** Catalyst, codegen, exec and streaming layer metrics from a summed
    * counter delta, divided by `n` (passes or requests). */
  def layerCounters(c: Counters, n: Double): Unit = {
    def per(k: String) = c(k) / n
    metric("catalyst.analysis_ms", per("analysis_ms"))
    metric("catalyst.optimization_ms", per("optimization_ms"))
    metric("catalyst.planning_ms", per("planning_ms"))
    metric("codegen.compiles", per("compiles"))
    metric("codegen.compile_ms", per("compile_ms_sampled"))
    metric("codegen.method_bytes_max", methodBytesMax.toDouble)
    execCounters(c, n)
    metric("streaming.batches", per("batches"))
    metric("streaming.trigger_s", per("trigger_ms") / 1e3)
    metric("streaming.state_commit_s", per("state_commit_ms") / 1e3)
    metric("streaming.state_rows", per("state_rows"))
  }

  /** The exec layer metrics alone (see [[layerCounters]]). */
  def execCounters(c: Counters, n: Double): Unit = {
    def per(k: String) = c(k) / n
    metric("exec.jobs", per("jobs"))
    metric("exec.tasks", per("tasks"))
    metric("exec.task_run_s", per("task_run_ms") / 1e3)
    metric("exec.task_cpu_s", per("task_cpu_ns") / 1e9)
    metric("exec.wait_ratio",
      if (c("task_run_ms") > 0) 1.0 - c("task_cpu_ns") / 1e6 / c("task_run_ms") else 0.0)
    metric("exec.gc_s", per("gc_ms") / 1e3)
    metric("exec.input_mb", per("input_bytes") / 1048576.0)
    metric("exec.shuffle_read_mb", per("shuffle_read_bytes") / 1048576.0)
    metric("exec.shuffle_write_mb", per("shuffle_write_bytes") / 1048576.0)
    metric("exec.output_mb", per("output_bytes") / 1048576.0)
  }
}

/** One benchmark run inside one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --data DIR --generate-s SECONDS
  *
  * Builds the engine session the way the product does
  * (`GraftSession.tuned`, `local[nproc]`, shuffle partitions = nproc),
  * runs the workload and writes its record to `DIR/record.json`. The
  * caller (`perfbench/run.py`) checks outputs and prints the result. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** The oracle SQL of `rows` and the row list itself, for the check. */
  def writeOracleSql(dir: String, rows: Seq[String]): Unit = {
    val sql = rows.flatMap(r => SparkEntry.oracleSql.get(r).map(r -> _)).toMap
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "oracle_sql.json"), mapper.writeValueAsString(sql))
    Files.writeString(Paths.get(dir, "rows.json"), mapper.writeValueAsString(rows))
  }

  /** Spark conf entries that identify the engine configuration (ports,
    * ids, hosts and local paths vary per run and are left out). */
  def confDigest(spark: SparkSession): (String, Map[String, String]) = {
    val volatileKeys = Seq("spark.app.id", "spark.app.startTime",
      "spark.driver.port", "spark.driver.host", "spark.executor.id",
      "spark.app.submitTime", "spark.sql.warehouse.dir", "spark.local.dir")
    val conf = spark.conf.getAll.filterNot { case (k, _) =>
      volatileKeys.contains(k) || k.startsWith("spark.driver.extraJava") ||
      k.startsWith("spark.executor.extraJava")
    }
    (md5(conf.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")), conf)
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case t: Throwable =>
      // the server's and Spark's non-daemon threads would keep the JVM up
      t.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val workDir = a("work")
    Files.createDirectories(Paths.get(workDir))
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = new Ctx(spark, workload, a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a.getOrElse("data", ""), workDir)
    ctx.metric("setup.session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    ctx.metric("setup.generate_s", a.getOrElse("generate-s", "0").toDouble)

    workload match {
      case "engine_batch" => Batch.run(ctx)
      case "openeo_serve" => Serve.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val m = ctx.metrics
    m("setup_s") = m("setup.session_s") + m("setup.generate_s") + m.getOrElse("setup.warm_s", 0.0)
    val (digest, conf) = confDigest(spark)
    val record = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.traced, "attempted" -> ctx.attempted,
      "failures" -> ctx.failures.toSeq, "metrics" -> m.toMap,
      "meta" -> Map("nproc" -> nproc, "master" -> master,
        "spark_version" -> spark.version, "conf_digest" -> digest,
        "conf" -> conf, "inputs" -> ctx.inputs.toMap,
        "java" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "info" -> ctx.info.toMap)
    Files.writeString(Paths.get(workDir, "record.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(record))
    if (ctx.traced) Files.writeString(Paths.get(workDir, "spans.json"),
      mapper.writeValueAsString(ctx.trace.toJson))
    spark.stop()
    // the server's request pool and listener threads are not daemons
    sys.exit(0)
  }
}
