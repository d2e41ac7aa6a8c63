package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Engine work counters at one instant; the difference of two snapshots
  * is the work done in between. Times are milliseconds unless the name
  * says otherwise. */
final case class Counters(values: Map[String, Long]) {
  def apply(k: String): Long = values.getOrElse(k, 0L)
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o(k)) })
  def +(o: Counters): Counters =
    Counters((values.keySet ++ o.values.keySet).map(k => k -> (this(k) + o(k))).toMap)
}

object Counters {
  val Exec: Seq[String] = Seq("jobs", "tasks", "task_run_ms", "task_cpu_ns",
    "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "output_bytes")
  val empty: Counters = Counters(Map.empty)
}

/** Accumulators fed by Spark's task and job events. */
private final class ExecAcc {
  val v: Map[String, AtomicLong] = Counters.Exec.map(_ -> new AtomicLong).toMap
  def add(k: String, d: Long): Unit = v(k).addAndGet(d)
  def snapshot: Map[String, Long] = v.map { case (k, a) => k -> a.get }
}

/** Every engine counter the traced run reads, through Spark's public
  * listener interfaces only:
  *  - a `SparkListener` for jobs, tasks, task run and CPU time, GC and
  *    bytes read, shuffled and written, also split by job group (the
  *    openEO server sets the group of each request to its graph's md5);
  *  - a `QueryExecutionListener` for the Catalyst phase times recorded by
  *    `QueryExecution.tracker`;
  *  - a `StreamingQueryListener` for micro-batches, trigger time and
  *    state-store commits;
  *  - `CodegenMetrics` for Janino compiles (an exact count, a sampled
  *    lower bound on their time, and the largest generated method).
  *
  * Listener events arrive asynchronously; [[fence]] runs a one-task job
  * and waits for its end event, after which every earlier task and job
  * event has been delivered to this listener. Fence jobs are not counted. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val total = new ExecAcc
  private val byGroup = new ConcurrentHashMap[String, ExecAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val finishedGroups = ConcurrentHashMap.newKeySet[String]()
  private val catalyst = Map("analysis_ms" -> new AtomicLong,
    "optimization_ms" -> new AtomicLong, "planning_ms" -> new AtomicLong,
    "queries" -> new AtomicLong)
  private val streaming = Map("batches" -> new AtomicLong,
    "trigger_ms" -> new AtomicLong, "state_commit_ms" -> new AtomicLong,
    "state_rows" -> new AtomicLong)
  private val fences = new AtomicLong

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def isFence(g: Option[String]) = g.exists(_.startsWith("perfbench-fence-"))
  private val fenceStages = ConcurrentHashMap.newKeySet[Int]()
  private val fenceJobs = new ConcurrentHashMap[Int, String]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      if (isFence(g)) {
        e.stageIds.foreach(fenceStages.add)
        fenceJobs.put(e.jobId, g.get)
      } else {
        total.add("jobs", 1)
        g.foreach { g =>
          byGroup.computeIfAbsent(g, _ => new ExecAcc).add("jobs", 1)
          e.stageIds.foreach(stageGroup.put(_, g))
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(fenceJobs.remove(e.jobId)).foreach(finishedGroups.add)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && !fenceStages.contains(e.stageId)) {
        val d = Seq("tasks" -> 1L, "task_run_ms" -> m.executorRunTime,
          "task_cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "output_bytes" -> m.outputMetrics.bytesWritten)
        val g = Option(stageGroup.get(e.stageId))
          .map(byGroup.computeIfAbsent(_, _ => new ExecAcc))
        d.foreach { case (k, v) => total.add(k, v); g.foreach(_.add(k, v)) }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => catalyst(s"${p}_ms").addAndGet(s.durationMs))
      }
      catalyst("queries").incrementAndGet()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      streaming("batches").incrementAndGet()
      Option(p.durationMs.get("triggerExecution"))
        .foreach(v => streaming("trigger_ms").addAndGet(v.longValue))
      p.stateOperators.foreach { op =>
        streaming("state_commit_ms").addAndGet(op.commitTimeMs)
        streaming("state_rows").addAndGet(op.numRowsUpdated)
      }
    }
  }

  def start(): Probe = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def stop(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every listener event posted before this call arrived. */
  def fence(): Unit = {
    val g = s"perfbench-fence-${fences.incrementAndGet()}"
    sc.setJobGroup(g, "listener fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 5000000000L
    while (!finishedGroups.remove(g) && System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  def snapshot(): Counters = {
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    Counters(total.snapshot ++
      catalyst.map { case (k, a) => k -> a.get } ++
      streaming.map { case (k, a) => k -> a.get } ++
      Map("compiles" -> cg.getCount,
        "compile_ms_sampled" -> cg.getSnapshot.getValues.sum))
  }

  /** Execution counters of the jobs run under one job group. */
  def group(g: String): Counters =
    Option(byGroup.get(g)).map(a => Counters(a.snapshot)).getOrElse(Counters.empty)

  /** Largest generated method so far, in bytes (a sampled histogram). */
  def methodBytesMax: Long =
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax
}

/** Peak live heap: old-generation usage right after a full collection,
  * taken at fixed checkpoints (end of set-up, after the first timed pass
  * or the timed window), so it measures retained data rather than
  * garbage timing. */
object Heap {
  private val oldPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private val taken = scala.collection.mutable.ArrayBuffer[Long]()

  private def oldUsed: Long = oldPools.map(_.getUsage.getUsed).sum

  /** Old-generation usage after collections, once it has settled. Cached
    * blocks are dropped first (a row's cache outlives its call until the
    * next row starts). Spark frees unpersisted blocks and, through its
    * ContextCleaner, shuffle and broadcast state asynchronously, only
    * after a collection has found their owner unreachable; so collect
    * again, 250 ms apart, until two readings agree within 1 MB (at most
    * `rounds` times), and keep the lowest. */
  def checkpoint(rounds: Int = 8): Unit = synchronized {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.catalog.clearCache())
    System.gc()
    var last = oldUsed
    var low = last
    var k = 1
    var settled = false
    while (k < rounds && !settled) {
      Thread.sleep(250)
      System.gc()
      val now = oldUsed
      settled = math.abs(now - last) < 1048576L
      low = math.min(low, now); last = now; k += 1
    }
    taken += low
  }

  def peakMb: Double = synchronized { taken.maxOption.getOrElse(0L) / 1048576.0 }
  /** Every checkpoint so far, MB. */
  def checkpointsMb: Seq[Double] = synchronized(taken.map(_ / 1048576.0).toList)
}

/** Bench's host calibration loop: a fixed single-thread integer loop and
  * the same loop on every core at once. Timed before and after the
  * measured region, it tells host speed changes from plan changes. */
object Calibration {
  private def once(iters: Long): Double = {
    val t0 = System.nanoTime()
    var s = 0L; var i = 0L
    while (i < iters) { s += i * 31 + (s >>> 7); i += 1 }
    if (s == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** (single-thread seconds, all-cores seconds). */
  def run(threads: Int, iters: Long = 100000000L): (Double, Double) = {
    val single = once(iters)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => { once(iters); () }); t.start(); t
    }
    ts.foreach(_.join())
    (single, (System.nanoTime() - t0) / 1e9)
  }
}
