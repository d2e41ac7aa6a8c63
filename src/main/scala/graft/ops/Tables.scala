package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

/** One schema registry for parquet reads.
  *
  * `spark.read.parquet(p)` infers its schema with a Spark job (footer
  * reads) on every call, even for a table read a moment ago. The
  * reference's scan never does that: it takes band and dtype metadata
  * from the ODC index it already holds (load_odc_collection.py:81-173).
  * [[read]] infers a path's schema once and then reads with
  * `.schema(s)`, which starts no job.
  *
  * An entry is keyed by the canonical (qualified) path and is valid for
  * one fingerprint: a digest of the recursive listing (file names,
  * sizes, mtimes) plus the session confs that change what parquet
  * inference returns. A rewritten table lists differently, so its next
  * read infers again and replaces the entry. There is one entry per path,
  * and an entry holds only a [[StructType]]. */
object Tables {

  /** Session confs whose values change an inferred parquet schema. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    // partition-directory values: typed or all strings
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class Entry(fingerprint: String, schema: StructType)
  private val schemas = new ConcurrentHashMap[String, Entry]()

  /** `spark.read.parquet(path)` with the schema inferred at most once per
    * (path, listing, inference confs). A path that cannot be listed
    * (missing, a glob) falls back to the inferring read, which raises
    * the same error as before. */
  def read(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, fp)) =>
        val hit = schemas.get(key)
        if (hit != null && hit.fingerprint == fp)
          spark.read.schema(hit.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(key, Entry(fp, df.schema))
          df
        }
    }

  /** (canonical path, digest of listing + inference confs); None when the
    * path cannot be listed. */
  private def fingerprint(spark: SparkSession,
      path: String): Option[(String, String)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualified = fs.makeQualified(p)
      // a listStatus walk, not listFiles: on the local file system each
      // LocatedFileStatus loads owner and permissions by running a
      // process (~7 ms per file)
      def walk(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq(s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}")
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      walk(qualified).sorted.foreach(s => md.update(s"$s\n".getBytes(UTF_8)))
      InferenceConfs.foreach(k =>
        md.update(s"\u0001$k=${spark.conf.getOption(k).orNull}".getBytes(UTF_8)))
      Some(qualified.toString ->
        md.digest().map("%02x".format(_)).mkString)
    } catch { case _: java.io.IOException | _: IllegalArgumentException => None }
}
