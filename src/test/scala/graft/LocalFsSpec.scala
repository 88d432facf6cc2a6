package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{GraftLocalFileSystem, GraftRawLocalFileSystem}

/** The fork-free local FS must stamp exactly the bits hadoop's shelled
  * chmod would, and the session must actually be running on it (the
  * whole point — every write otherwise pays a process fork per file). */
class LocalFsSpec extends AnyFunSuite {

  test("setPermission stamps the same bits as the mode string, no fork") {
    val fs = new GraftRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val f = Files.createTempFile("graft-localfs", ".dat")
    try {
      for (mode <- Seq("644", "600", "755", "640")) {
        fs.setPermission(new Path(f.toString),
          new FsPermission(Integer.parseInt(mode, 8).toShort))
        val got = java.nio.file.Files.getPosixFilePermissions(f)
        val expect = java.nio.file.attribute.PosixFilePermissions
          .fromString(new FsPermission(Integer.parseInt(mode, 8).toShort)
            .toString.replace("-", "-").takeRight(9))
        assert(got == expect, s"mode $mode")
      }
    } finally Files.deleteIfExists(f)
  }

  test("setPermission keeps the sticky bit (bits above 0777 are not dropped)") {
    val fs = new GraftRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val d = Files.createTempDirectory("graft-localfs-sticky")
    def mode: Int =
      Files.getAttribute(d, "unix:mode").asInstanceOf[Integer].intValue & 0xfff
    try {
      fs.setPermission(new Path(d.toString),
        new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert(mode == Integer.parseInt("1755", 8), f"mode $mode%o")
      // and back to a plain mode through the nio path
      fs.setPermission(new Path(d.toString),
        new FsPermission(Integer.parseInt("750", 8).toShort))
      assert(mode == Integer.parseInt("750", 8), f"mode $mode%o")
    } finally Files.deleteIfExists(d)
  }

  test("the shared test session resolves file:// to the fork-free FS") {
    val spark = SparkSpec.spark
    val fs = new Path("/tmp").getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[GraftLocalFileSystem],
      s"expected GraftLocalFileSystem, got ${fs.getClass.getName}")
    // a write through the session lands with the standard permission
    // bits (i.e. setPermission really ran, through the nio path)
    val dir = Files.createTempDirectory("graft-localfs-w")
    try {
      import spark.implicits._
      Seq(1, 2, 3).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/out")
      val part = Files.list(Paths.get(s"$dir/out")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      val perms = java.nio.file.Files.getPosixFilePermissions(Paths.get(part))
      assert(perms.contains(
        java.nio.file.attribute.PosixFilePermission.OWNER_READ))
    } finally graft.util.Fs.deleteTree(dir)
  }
}
