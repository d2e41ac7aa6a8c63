package graft

import graft.io.LocalFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import java.io.File
import java.net.URI
import java.nio.file.Files

/** Laws for the fork-free local file system: its two overridden methods
  * give what stock `RawLocalFileSystem` gives, checksums still catch a
  * flipped byte through the FileContext API, and GraftSession's settings
  * resolve `file:` to it. Needs no Spark session. */
class LocalFsSpec extends AnyFunSuite with Matchers {

  /** [[LocalFs.Confs]] as Hadoop keys. */
  private def graftConf(): Configuration = {
    val c = new Configuration()
    LocalFs.Confs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val graft = initialized(new LocalFs.Raw)

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  /** The full mode (incl. sticky, setuid, setgid), read without a fork. */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  test("law: setPermission sets the same bits as stock for all 512 rwx " +
      "modes, on files and directories") {
    val root = tmp("localfs-perm")
    val targets = for (kind <- Seq("file", "dir"); side <- Seq("stock", "graft"))
      yield {
        val f = new File(root, s"$kind-$side")
        if (kind == "file") f.createNewFile() else f.mkdir()
        (kind, side) -> f
      }
    val t = targets.toMap
    for (m <- 0 until 512; kind <- Seq("file", "dir")) {
      val p = FsPermission.createImmutable(m.toShort)
      stock.setPermission(new Path(t(kind -> "stock").getPath), p)
      graft.setPermission(new Path(t(kind -> "graft").getPath), p)
      withClue(f"$kind mode 0$m%03o: ") {
        mode(t(kind -> "graft")) shouldBe mode(t(kind -> "stock"))
        mode(t(kind -> "graft")) shouldBe m
      }
    }
    // a sticky-bit mode takes the stock route: nio cannot set the bit
    val sticky = new FsPermission(1023.toShort) // 01777
    sticky.getStickyBit shouldBe true
    stock.setPermission(new Path(t("dir" -> "stock").getPath), sticky)
    graft.setPermission(new Path(t("dir" -> "graft").getPath), sticky)
    mode(t("dir" -> "graft")) shouldBe mode(t("dir" -> "stock"))
    mode(t("dir" -> "graft")) shouldBe 1023
    targets.foreach { case (_, f) => graft.setPermission(new Path(f.getPath),
      FsPermission.createImmutable(448.toShort)) } // 0700, to clean up
    FileUtils.deleteDirectory(root)
  }

  test("law: getFileLinkStatus equals stock for a file, a directory, a " +
      "symlink and a dangling symlink, and fails alike for a missing path") {
    val root = tmp("localfs-link")
    val file = new File(root, "file")
    Files.write(file.toPath, "abc".getBytes)
    val dir = new File(root, "dir"); dir.mkdir()
    val link = new File(root, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(root, "dangling")
    Files.createSymbolicLink(dangling.toPath, new File(root, "gone").toPath)
    // every field via the getters, or the exception's type: stock fails
    // for a dangling link named by a qualified path (its readlink runs on
    // the path's string form, which is no file)
    def show(fs: RawLocalFileSystem, p: Path): Either[Class[_], String] =
      try Right(fs.getFileLinkStatus(p).toString)
      catch { case e: java.io.IOException => Left(e.getClass) }
    val missing = new File(root, "missing")
    for (f <- Seq(file, dir, link, dangling, missing);
         p <- Seq(new Path(f.getPath), new Path(f.toURI))) withClue(p) {
      show(graft, p) shouldBe show(stock, p)
    }
    graft.getFileLinkStatus(new Path(link.getPath)).isSymlink shouldBe true
    graft.getFileLinkStatus(new Path(dangling.getPath)).isSymlink shouldBe true
    show(graft, new Path(missing.getPath)) shouldBe
      Left(classOf[java.io.FileNotFoundException])
    FileUtils.deleteDirectory(root)
  }

  test("a FileContext create, rename and open still verifies checksums, " +
      "as stock does") {
    val stockConf = new Configuration()
    for (conf <- Seq(stockConf, graftConf())) {
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val root = tmp("localfs-crc")
      val src = new Path(new File(root, "a.tmp").toURI)
      val dst = new Path(new File(root, "a").toURI)
      val data = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
      val out = fc.create(src, java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write(data) finally out.close()
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      new File(root, ".a.crc").isFile shouldBe true
      new File(root, ".a.tmp.crc").exists shouldBe false
      // with a buffer size: Hadoop's FilterFs.open(path) skips ChecksumFs
      // and reads unverified, stock and graft alike
      def readAll(): Array[Byte] = {
        val in = fc.open(dst, 4096)
        try { val b = new Array[Byte](data.length); in.readFully(b); b }
        finally in.close()
      }
      readAll() shouldBe data
      val raf = new java.io.RandomAccessFile(new File(root, "a"), "rw")
      try { raf.seek(1000); raf.write(data(1000) ^ 1) } finally raf.close()
      intercept[ChecksumException](readAll())
      FileUtils.deleteDirectory(root)
    }
  }

  test("GraftSession's settings resolve file: to the fork-free classes") {
    val uri = URI.create("file:///")
    LocalFs.Confs.keys.foreach(_ should startWith("spark.hadoop.fs."))
    FileSystem.get(uri, graftConf()) shouldBe a[LocalFs.Checked]
    FileSystem.get(uri, graftConf()).asInstanceOf[LocalFs.Checked].getRaw shouldBe
      a[LocalFs.Raw]
    FileContext.getFileContext(uri, graftConf()).getDefaultFileSystem shouldBe
      a[LocalFs.CheckedContext]
  }
}
