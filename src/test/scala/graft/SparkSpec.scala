package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run forked in a single test JVM). Built through [[GraftSession.tuned]],
  * so the specs run on the product's confs, file system and extensions. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.tuned(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark
  import java.sql.Timestamp

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Tiny long-form cube: rows of (time, band, y, x, value). */
  def cubeOf(rows: (String, String, Double, Double, Double)*): graft.cube.Cube = {
    import spark.implicits._
    val df = rows.toSeq
      .map { case (t, b, y, x, v) => (ts(t + " 00:00:00"), b, y, x, v) }
      .toDF("time", "band", "y", "x", "value")
    graft.cube.Cube(df, graft.cube.CubeMeta(
      bandOrder = rows.map(_._2).distinct,
      grid = Some(graft.cube.GridRef(0, 0, 1, 1))))
  }

  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet.map((r: Row) => r.toSeq)

  /** `f`'s result and the number of Spark jobs it started, counted by a
    * listener under a job group of its own. A one-task fence job run
    * after `f` proves, once its end event arrives, that every earlier
    * job-start event has been delivered (the listener bus is ordered). */
  def jobsDuring[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val fenceKey = "graft.test.fence"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val fenceIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty(fenceKey) != null) fenceIds.add(e.jobId)
          else started.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (fenceIds.contains(e.jobId)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      sc.setLocalProperty(fenceKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(fenceKey, null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "fence job's end event never arrived")
      (r, started.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
