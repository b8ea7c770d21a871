package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.lake.{ForklessLocalFileSystem, ForklessLocalFs}

/** The session's `file:` file systems against Hadoop's stock local ones:
  * the same permission bits, renames and link status, with no process
  * started for them.
  */
class LocalFsSpec extends SparkSpec {

  private val local = new URI("file:///")

  /** The session's Hadoop conf, and a copy naming Hadoop's stock classes. */
  private def confs(umask: String): (Configuration, Configuration) = {
    val ours = new Configuration(spark.sparkContext.hadoopConfiguration)
    ours.set("fs.permissions.umask-mode", umask)
    val stock = new Configuration(ours)
    stock.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    (ours, stock)
  }

  private def bits(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("the session installs the fork-free file: file systems") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.newInstance(local, conf).getClass === classOf[ForklessLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ===
      classOf[ForklessLocalFs])
    assert(FileSystem.getLocal(conf).isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
  }

  test("create, mkdirs and setPermission leave the stock permission bits") {
    for (umask <- Seq("022", "027", "077")) {
      val (oursConf, stockConf) = confs(umask)
      val results = Seq(oursConf, stockConf).map { conf =>
        val fs = FileSystem.newInstance(local, conf)
        val dir = Files.createTempDirectory("localfs_perm_").toString
        try {
          fs.create(new Path(s"$dir/plain"), true).close()
          fs.create(new Path(s"$dir/mode"), new FsPermission("640"), true, 4096,
            1.toShort, 1L << 20, null).close()
          fs.mkdirs(new Path(s"$dir/a/b"))
          fs.mkdirs(new Path(s"$dir/m"), new FsPermission("751"))
          fs.create(new Path(s"$dir/chmod"), true).close()
          fs.setPermission(new Path(s"$dir/chmod"), new FsPermission("604"))
          Seq("plain", ".plain.crc", "mode", ".mode.crc", "a", "a/b", "m", "chmod")
            .map(n => n -> bits(s"$dir/$n")) :+
            ("status" -> fs.getFileStatus(new Path(s"$dir/mode")).getPermission.toString)
        } finally fs.close()
      }
      assert(results(0) === results(1), s"umask $umask")
    }
  }

  test("a FileContext rename with OVERWRITE behaves as the stock one") {
    val (oursConf, stockConf) = confs("022")
    val results = Seq(oursConf, stockConf).map { conf =>
      val fc = FileContext.getFileContext(local, conf)
      val dir = Files.createTempDirectory("localfs_rename_").toString
      def write(n: String, s: String): Unit = {
        val out = fc.create(new Path(s"$dir/$n"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
            org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      write("src", "new")
      write("dst", "old")
      write("other", "x")
      fc.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      val refused = scala.util.Try(
        fc.rename(new Path(s"$dir/other"), new Path(s"$dir/dst"))).failed.toOption
        .map(_.getClass.getName)
      val names = new java.io.File(dir).list().toSeq.sorted
      (names, new String(Files.readAllBytes(Paths.get(s"$dir/dst")), "UTF-8"),
        bits(s"$dir/dst"), refused)
    }
    assert(results(0) === results(1))
    assert(results(0)._2 === "new")
    assert(results(0)._4.isDefined, "a rename onto an existing file without OVERWRITE must fail")
  }

  test("a symlink's link status is the stock one") {
    val (oursConf, stockConf) = confs("022")
    val dir = Files.createTempDirectory("localfs_link_").toString
    Files.write(Paths.get(s"$dir/target"), "abc".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/target"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    def status(conf: Configuration, p: String) = {
      val fs = FileSystem.newInstance(local, conf)
      try {
        val st = fs.getFileLinkStatus(new Path(p))
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "", st.getLen,
          st.isDirectory, st.getPath.toString)
      } finally fs.close()
    }
    def fcStatus(conf: Configuration, p: String) = {
      val st = FileContext.getFileContext(local, conf).getFileLinkStatus(new Path(p))
      (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "", st.getLen)
    }
    for (p <- Seq(s"$dir/link", s"$dir/dangling", s"$dir/target", s"file:$dir/link", dir)) {
      assert(status(oursConf, p) === status(stockConf, p), p)
      assert(fcStatus(oursConf, p) === fcStatus(stockConf, p), p)
    }
    assert(status(oursConf, s"$dir/link")._1, "an unqualified link path reads as a link")
  }
}
