package graft.io

import graft.SparkSpec
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** [[LocalFs]] sets the modes the stock local filesystem sets, without
  * starting a process. */
class LocalFsSpec extends SparkSpec {

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("local_fs_spec")
    try body(dir) finally graft.Tables.deleteTree(dir.toFile)
  }

  private def newFs(): LocalFs = {
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  test("setPermission round-trips the nine mode bits on files and directories") {
    withTempDir { dir =>
      val fs = newFs()
      val file = Files.createFile(dir.resolve("f"))
      val sub = Files.createDirectory(dir.resolve("d"))
      for (p <- Seq(file, sub); mode <- Seq("000", "600", "644", "700", "755", "777")) {
        fs.setPermission(new Path(p.toUri), new FsPermission(mode))
        assert(unixMode(p) == Integer.parseInt(mode, 8), s"$p mode $mode")
      }
    }
  }

  test("a sticky mode takes the stock path") {
    // FsPermission carries the sticky bit and no setuid, so sticky is the
    // one mode above 0777 a caller can ask for; Files.setPosixFilePermissions
    // cannot set it, so a set sticky bit shows the stock chmod ran
    withTempDir { dir =>
      newFs().setPermission(new Path(dir.toUri), new FsPermission("1777"))
      assert(unixMode(dir) == Integer.parseInt("1777", 8))
    }
  }

  test("a parquet write leaves the same modes with and without the LocalFs options") {
    withTempDir { dir =>
      // the stock class, uncached, for the write without the options; a
      // umask unlike the process's, so modes left unset would differ
      val stock = spark.newSession()
      stock.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      stock.conf.set("fs.file.impl.disable.cache", "true")
      stock.conf.set("fs.permissions.umask-mode", "027")
      val df = stock.range(0, 1000, 1, 3).toDF("id")
      df.write.parquet(dir.resolve("stock").toString)
      df.write.options(LocalFs.options).parquet(dir.resolve("local").toString)
      def modes(root: JPath): Map[String, String] = {
        val s = Files.walk(root)
        try s.iterator.asScala.map { p =>
          root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "*") ->
            PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        }.toMap
        finally s.close()
      }
      val (a, b) = (modes(dir.resolve("stock")), modes(dir.resolve("local")))
      assert(a.size > 5, s"too few outputs to compare: $a")
      assert(a == b)
      assert(a.values.toSet == Set("rwxr-x---", "rw-r-----"))
    }
  }
}
