package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine confs from the shared GraftSession builder (r15): codegen
    // cache sized to the surface, streaming housekeeping, extensions
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q_a,q_b dumps just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes backslash, quote and ALL control chars (<0x20) — a
    // tab or CR in oracle SQL would otherwise make the gate's JSON load
    // fail and silently zero the correctness check.
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = json.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => oracle.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(oracle))
    // Belt-and-braces artifact guard (round 11's CORRECTNESS file came
    // back `{}` with no repo-side cause): re-read what was just written
    // and fail LOUDLY if the driver's next steps could see less than the
    // full surface — (a) oracle_sql.json must parse with a real JSON
    // parser (Jackson, on Spark's classpath: same family as the driver's
    // json.load), (b) every non-skipped query must have a dump directory
    // containing a _SUCCESS marker. The final stdout line is a marker the
    // driver/judge can grep to distinguish "Verify dumped N and exited 0"
    // from an artifact lost downstream.
    val parsed =
      json.readTree(Files.readString(Paths.get(s"$outDir/oracle_sql.json")))
    require(parsed.isObject && parsed.size() == SparkEntry.oracleSql.size,
      s"oracle_sql.json round-trip mismatch: parsed ${parsed.size()} " +
        s"entries, expected ${SparkEntry.oracleSql.size}")
    val expected = SparkEntry.queries.keySet
      .filter(n => only.forall(_.contains(n)))
    val dumped = expected.filter(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    val missing = (expected -- dumped).toSeq.sorted
    println(s"""{"verify_dumped":${dumped.size},"verify_expected":${expected.size},"oracle_entries":${parsed.size()}}""")
    spark.stop()
    if (missing.nonEmpty) {
      // fail LOUDLY for real: a partial surface must exit nonzero so
      // the driver can never mistake it for a full gate
      System.err.println(s"[verify] MISSING dumps (${missing.size}): " +
        missing.mkString(", "))
      sys.exit(1)
    }
  }
}
