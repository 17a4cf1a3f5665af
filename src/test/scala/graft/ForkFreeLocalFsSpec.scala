package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** `ForkFreeLocalFs` changes how mode bits are set, nothing else: the same
  * modes as the stock local filesystem, the same `.crc` sidecars and
  * checksum verification, Hadoop's path for the sticky bit, and it is
  * what `file://` resolves to in a `GraftSession`-configured session. */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private def hconf = spark.sparkContext.hadoopConfiguration

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("files and dirs get the same POSIX modes as through the stock local filesystem") {
    val sessionFs = new Path(Files.createTempDirectory("graft_ffl").toString).getFileSystem(hconf)
    assert(sessionFs.isInstanceOf[ForkFreeLocalFs], "the session's file:// must be the fork-free FS")
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration(hconf)
      conf.set("fs.permissions.umask-mode", umask)
      val ours = FileSystem.newInstance(URI.create("file:///"), conf)
      val stock = new LocalFileSystem()
      stock.initialize(URI.create("file:///"), conf)
      // relative paths created by each filesystem under its own base dir
      def build(fs: FileSystem): String = {
        val base = Files.createTempDirectory("graft_ffl").toString
        fs.create(new Path(s"$base/f.bin")).close()
        fs.mkdirs(new Path(s"$base/d/e"))
        fs.mkdirs(new Path(s"$base/m"), new FsPermission("750"))
        FileSystem.create(fs, new Path(s"$base/g.bin"), new FsPermission("640")).close()
        base
      }
      val (a, b) = (build(ours), build(stock))
      for (rel <- Seq("f.bin", ".f.bin.crc", "d", "d/e", "m", "g.bin", ".g.bin.crc"))
        assert(mode(s"$a/$rel") == mode(s"$b/$rel"), s"umask $umask, $rel")
      if (umask == "077") {
        assert(mode(s"$a/f.bin") == "rw-------")
        assert(mode(s"$a/d/e") == "rwx------")
      }
      ours.close(); stock.close()
    }
  }

  test("the .crc sidecar is written and a flipped byte fails the read with ChecksumException") {
    val dir = s"${Files.createTempDirectory("graft_ffl")}/t"
    spark.range(2000).selectExpr("id", "cast(id * 7 as string) s").coalesce(1)
      .write.parquet(dir)
    val part = new java.io.File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    assert(new java.io.File(dir, s".${part.getName}.crc").isFile)
    assert(spark.read.parquet(dir).count() == 2000L)

    val raf = new java.io.RandomAccessFile(part, "rw")
    try {
      val at = raf.length() / 2
      raf.seek(at); val b = raf.read()
      raf.seek(at); raf.write(b ^ 0xff)
    } finally raf.close()
    val e = intercept[Exception](spark.read.parquet(dir).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[ChecksumException]), s"no ChecksumException under $e")
  }

  test("a sticky-bit mode takes Hadoop's path and round-trips") {
    val base = Files.createTempDirectory("graft_ffl").toString
    val fs = new Path(base).getFileSystem(hconf)
    val d = new Path(s"$base/shared")
    assert(fs.mkdirs(d))
    fs.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val got = fs.getFileStatus(d).getPermission
    assert(got.getStickyBit)
    assert(got.toShort == Integer.parseInt("1777", 8).toShort)
    assert(mode(s"$base/shared") == "rwxrwxrwx")
  }

  test("a new file:// instance from the session's configuration is the fork-free FS") {
    // newInstance: the JVM-wide FileSystem cache ignores the configuration
    val fs = FileSystem.newInstance(URI.create("file:///"), hconf)
    try assert(fs.getClass == classOf[ForkFreeLocalFs])
    finally fs.close()
  }
}
