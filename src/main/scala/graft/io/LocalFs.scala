package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import java.net.URI
import java.nio.file.{Files, attribute}

/** The local file system without process forks.
  *
  * Without the native-hadoop library (none ships with this engine),
  * Hadoop's [[RawLocalFileSystem]] starts an OS process for every
  * `setPermission` (`chmod`) and for every `getFileLinkStatus`
  * (`readlink`, run on both sides of each FileContext rename). Every
  * local write pays for them: streaming offset and commit logs,
  * state-store deltas, parquet output committers, `.crc` sidecars. One
  * call of `q_stream_agg_period` started 440 such processes.
  *
  * [[LocalFs.Raw]] overrides exactly those two methods with their
  * `java.nio` equivalents and falls back to the stock code for what
  * they do not cover. The two front ends keep the stock layering:
  * [[LocalFs.Checked]] is `LocalFileSystem` (the `FileSystem` API) and
  * [[LocalFs.CheckedContext]] is `ChecksumFs` over a
  * `DelegateToFileSystem` (the FileContext API, which Spark's streaming
  * checkpoint manager uses). Both write `.crc` sidecars and verify them
  * on read as the stock classes do (through FileContext, `open(path)`
  * included, which stock `FilterFs` sends past `ChecksumFs`), and
  * renames stay atomic. [[LocalFs.Confs]] registers them for `file:`. */
object LocalFs {

  /** Hadoop settings that make `file:` paths use these classes, as
    * `spark.hadoop.*` session confs. */
  val Confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[Checked].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[CheckedContext].getName)

  /** [[RawLocalFileSystem]] with `chmod` and `readlink` done in-process. */
  class Raw extends RawLocalFileSystem {

    /** Plain rwx bits through `Files.setPosixFilePermissions`. Hadoop
      * applies the umask before this call, so the bits are set as given,
      * exactly as `chmod` would. A sticky-bit mode, or a path nio cannot
      * change, takes the stock (forking) route and its exact errors. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, rwx(mode))
      catch {
        case _: java.io.IOException | _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }

    /** A path that is not a symlink has the status `getFileStatus` gives,
      * which is what the stock method returns once `readlink` prints
      * nothing. A symlink, dangling or not, takes the stock route. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  // from the mode's bits, not FsPermission.toString: FileContext passes
  // an FsCreateModes, whose toString lists masked and unmasked modes
  private val Bits = {
    import attribute.PosixFilePermission._
    Seq(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE, GROUP_WRITE,
      GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  }

  private def rwx(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    Bits.zipWithIndex.foreach { case (b, i) => if ((mode >> i & 1) == 1) s.add(b) }
    s
  }

  /** The `FileSystem` front end: stock `LocalFileSystem` (checksums)
    * over [[Raw]]. */
  class Checked extends LocalFileSystem(new Raw)

  /** The FileContext front end: `ChecksumFs` over [[RawContext]], the
    * same layering as Hadoop's `org.apache.hadoop.fs.local.LocalFs`.
    * `open(path)` reads through `ChecksumFs` as `open(path, bufferSize)`
    * does: Hadoop's `FilterFs.open(path)` would hand it to the raw file
    * system unverified, and that is the call Spark's checkpoint manager
    * makes for offset, commit and state files. */
  class CheckedContext(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(uri, conf)) {
    override def open(f: Path): FSDataInputStream =
      open(f, getServerDefaults(f).getFileBufferSize)
  }

  /** [[Raw]] as an `AbstractFileSystem`, with the settings of Hadoop's
    * `org.apache.hadoop.fs.local.RawLocalFs`. */
  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    @deprecated("as in Hadoop", "")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
