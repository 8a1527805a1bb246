package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{LocalFs, SnapshotTable, Sources, StoreRoot}

/** graft's writes to `file:` paths start no process: Hadoop's stock
  * local file system, without its native library, forks one `chmod`
  * per file and directory it creates; [[LocalFs]] sets the same modes
  * in-process. */
class LocalFsSpec extends SparkSuite {

  /** The command lines of the processes started while `body` ran, from
    * an in-process flight recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_fs", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(f)
    }
  }

  private def withDir(prefix: String)(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory(prefix)
    try body(root) finally StoreRoot.deleteRecursively(root)
  }

  test("a snapshot-table create and merge, a partitioned write and a JSON state write start no chmod") {
    import spark.implicits._
    withDir("graft_fs_forks") { root =>
      val rows = (1 to 40).map(i => (i.toLong, i % 3, s"v$i"))
      val starts = processStarts {
        val t = new SnapshotTable(spark, root.resolve("t").toString, "id", buckets = 4)
        t.create(rows.toDF("id", "g", "v"))
        t.merge(rows.take(10).map { case (i, g, _) => (i, g, "w") }.toDF("id", "g", "v"))
        Sources.writePartitioned(rows.toDF("id", "g", "v"), root.resolve("log").toString, Seq("g"))
        Sources.writeJsonState(rows.toDF("id", "g", "v"), root.resolve("state").toString)
      }
      val chmods = starts.filter(_.startsWith("chmod"))
      assert(chmods.size == 0, s"chmod starts, e.g. ${chmods.take(3)}")
    }
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def unixMode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  /** Default and explicit modes on files and directories, written
    * through `fs` under `root`; every entry's relative path → mode. */
  private def writeTree(fs: FileSystem, root: Path): Map[String, Int] = {
    val at = (rel: String) => new HPath(root.resolve(rel).toUri)
    fs.mkdirs(at("a/b"))
    val f = fs.create(at("a/b/f"))
    try f.write(Array[Byte](1, 2, 3)) finally f.close()
    fs.mkdirs(at("private"), new FsPermission(octal("700").toShort))
    fs.create(at("private/g"), new FsPermission(octal("600").toShort), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.setPermission(at("a/b/f"), new FsPermission(octal("604").toShort))
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> unixMode(p)).toMap
    finally s.close()
  }

  test("a tree written through LocalFs has the stock local file system's mode on every file and directory") {
    withDir("graft_fs_modes") { root =>
      val stock = initialized(new LocalFileSystem())
      val ours = initialized(new LocalFs)
      try {
        val want = writeTree(stock, root.resolve("stock"))
        val got = writeTree(ours, root.resolve("graft"))
        assert(want.size == 7, want)
        assert(got == want)
      } finally { stock.close(); ours.close() }
    }
  }

  test("setPermission keeps the sticky bit, through the stock fallback") {
    withDir("graft_fs_sticky") { root =>
      val fs = initialized(new LocalFs)
      try {
        val dir = root.resolve("shared")
        fs.mkdirs(new HPath(dir.toUri))
        fs.setPermission(new HPath(dir.toUri), new FsPermission(octal("1777").toShort))
        assert((unixMode(dir) & octal("7777")) == octal("1777"))
      } finally fs.close()
    }
  }

  test("the session's local file system is graft's") {
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
  }
}
