package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import scala.jdk.CollectionConverters._
import graft.core.LocalFs
import graft.gold.TxLog
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The `file:` scheme through [[graft.core.LocalFs]]: the session resolves
  * to it, engine writes fork no `chmod` or `readlink`, and modes, `.crc`
  * siblings and link statuses match Hadoop's stock local file system.
  */
class LocalFsSpec extends SparkSpecBase {
  import spark.implicits._

  private val Root = URI.create("file:///")

  private def stockFs(): FileSystem = {
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(Root, new Configuration())
    fs
  }

  private def graftFs(): FileSystem =
    FileSystem.get(Root, spark.sessionState.newHadoopConf())

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def perm(s: String) = new FsPermission(octal(s).toShort)

  test("file: FileSystem and FileContext resolve to LocalFs") {
    graftFs() shouldBe a[LocalFs.Checksummed]
    FileContext.getFileContext(Root, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem shouldBe a[LocalFs.ContextFs]
  }

  test("a partitioned parquet write, a TxLog append and a TxLog stream fork no chmod or readlink") {
    val dir = Files.createTempDirectory("localfs").toString
    val rows = (0 until 40).map(i => (i.toLong, s"v$i", (i % 4).toLong))
      .toDF("id", "payload", "grp")
    TxLog.init(rows, s"$dir/src")
    TxLog.init(rows.limit(0), s"$dir/dst")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      rows.write.partitionBy("grp").parquet(s"$dir/pq")
      TxLog.append(rows, s"$dir/src", 0L)
      streaming.EventStream.runTxLogPipelineOnce(spark, s"$dir/src",
        s"$dir/dst", s"$dir/ckpt", _.filter(col("grp") =!= 0L))
      // one process the recording must see, so zero forks is not vacuous
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val out = Paths.get(dir, "process.jfr")
    rec.dump(out)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    info(s"process starts: ${commands.size} " +
      s"(${commands.map(_.split(' ').head).groupBy(identity).view.mapValues(_.size).toMap})")
    commands should contain("true")
    commands.filter(c => c.contains("chmod") || c.contains("readlink")) shouldBe empty
    TxLog.read(spark, s"$dir/dst").count() shouldBe 60L
  }

  test("modes and .crc siblings match the stock LocalFileSystem") {
    def build(fs: FileSystem, root: JPath): Map[String, Int] = {
      val r = new Path(root.toUri)
      fs.mkdirs(new Path(r, "a/b/c"), perm("750"))
      val out = fs.create(new Path(r, "a/b/c/f.txt"))
      out.write("payload".getBytes("UTF-8"))
      out.close()
      fs.setPermission(new Path(r, "a/b/c/f.txt"), perm("600"))
      fs.setPermission(new Path(r, "a/b"), perm("1777"))
      // a set-group-ID directory: GNU chmod with a numeric mode keeps the bit
      new ProcessBuilder("chmod", "g+s", root.resolve("a").toString).start().waitFor()
      fs.setPermission(new Path(r, "a"), perm("755"))
      Files.walk(root).iterator().asScala.filter(_ != root)
        .map(p => root.relativize(p).toString -> mode(p)).toMap
    }
    val stock = build(stockFs(), Files.createTempDirectory("localfs_stock"))
    val graft = build(graftFs(), Files.createTempDirectory("localfs_graft"))
    graft shouldBe stock
    stock.keySet should contain("a/b/c/.f.txt.crc")
    stock("a/b/c/f.txt") shouldBe octal("600")
    stock("a/b") shouldBe octal("1777")
    stock("a") shouldBe octal("2755")
  }

  test("getFileLinkStatus on a file and a symlink matches the stock LocalFileSystem") {
    val dir = Files.createTempDirectory("localfs_link")
    val file = Files.write(dir.resolve("f.txt"), "payload".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def view(s: FileStatus) = (s.getPath, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.isDirectory, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    val (stock, graft) = (stockFs(), graftFs())
    for (p <- Seq(file, link); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      view(graft.getFileLinkStatus(path)) shouldBe view(stock.getFileLinkStatus(path))
    }
    graft.getFileLinkStatus(new Path(link.toString)).isSymlink shouldBe true
  }
}
