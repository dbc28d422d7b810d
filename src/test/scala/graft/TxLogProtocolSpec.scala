package graft

import graft.gold.TxLog
import org.apache.spark.sql.functions._

/** One log format: every version record and checkpoint carries
  * [[TxLog.LogProtocol]]. A record or checkpoint without it was written
  * by an older log format and is refused with ONE named error on every
  * read path — the batch API, the `graft-txlog` batch format, the
  * streaming source and the V2 catalog — never read through a guessed
  * older shape.
  */
class TxLogProtocolSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txproto").toString + "/t"

  private def rows(r: Range): org.apache.spark.sql.DataFrame =
    r.map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  private lazy val catalogSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.g", "graft.sqlfront.GraftCatalog")
    s.conf.set("spark.sql.catalog.g.warehouse",
      java.nio.file.Files.createTempDirectory("txproto_wh").toString)
    s
  }

  /** The messages of `e` and every cause (read paths wrap differently). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  /** Every read path of the table's CURRENT version fails with the one
    * named older-format error.
    */
  private def refusedOnEveryReadPath(path: String): Unit = {
    val refusal = s"TxLog: $path was written by an older log format - " +
      "re-create the table"
    val paths: Seq[(String, () => Any)] = Seq(
      "TxLog.read" -> (() => TxLog.read(spark, path).count()),
      "graft-txlog batch format" -> (() =>
        spark.read.format("graft-txlog").option("path", path).load().count()),
      "graft-txlog streaming source" -> (() =>
        spark.readStream.format("graft-txlog").option("path", path).load()),
      "sqlfront catalog" -> (() =>
        catalogSession.sql(s"SELECT count(*) FROM g.path.`$path`").collect()))
    paths.foreach { case (name, read) =>
      withClue(s"$name: ") {
        messages(intercept[Throwable](read())) should include(refusal)
      }
    }
  }

  test("an unstamped v0 record is refused on every read path") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    val log = new java.io.File(path, TxLog.LogDirName)
    val v0 = new java.io.File(log, f"${0L}%020d.json").toPath
    val text = new String(java.nio.file.Files.readAllBytes(v0), "UTF-8")
    text should include(s""""protocol":${TxLog.LogProtocol},""")
    // an older log: the record carries no stamp, and no checkpoint of
    // the current kind stands in for it
    java.nio.file.Files.write(v0,
      text.replace(s""""protocol":${TxLog.LogProtocol},""", "").getBytes("UTF-8"))
    java.nio.file.Files.delete(
      new java.io.File(log, f"${0L}%020d.checkpoint.parquet").toPath)
    refusedOnEveryReadPath(path)
    // a different stamp is refused the same way
    java.nio.file.Files.write(v0, text.replace(
      s""""protocol":${TxLog.LogProtocol},""",
      s""""protocol":${TxLog.LogProtocol + 1},""").getBytes("UTF-8"))
    intercept[TxLog.OlderLogFormatException](TxLog.snapshot(path))
  }

  /** Version 0 of a two-row (id, payload) table as the protocol-1 log
    * format wrote it: base64-wrapped schema, commit info and stats.
    */
  private val Protocol1Record = Seq(
    """{"version":0,"protocol":1,"tsMillis":1700000000000,"schemaB64":"""",
    """eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIjoi""",
    """bG9uZyIsIm51bGxhYmxlIjpmYWxzZSwibWV0YWRhdGEiOnt9fSx7Im5hbWUiOiJw""",
    """YXlsb2FkIiwidHlwZSI6InN0cmluZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0""",
    """YSI6e319XX0=","info":"SU5JVA==;","statsB64":"cGFydC0wMDAwMC0xMWR""",
    """iZDgyOS01YmEzLTQ1ZDktOTFlNS03ODEyMjI1MmFhMTQtYzAwMC5zbmFwcHkucGF""",
    """ycXVldAkyCTcxMAlhV1E9LGwsMCwxLDIsLDtjR0Y1Ykc5aFpBPT0scywwLCwscFl""",
    """RPT0scFlnPT0J","add":["part-00000-11dbd829-5ba3-45d9-91e5-781222""",
    """52aa14-c000.snappy.parquet"],"remove":[]}""").mkString

  test("a protocol-1 record (base64 schema and stats) is refused on every read path") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    val log = new java.io.File(path, TxLog.LogDirName)
    java.nio.file.Files.write(new java.io.File(log, f"${0L}%020d.json").toPath,
      Protocol1Record.getBytes("UTF-8"))
    java.nio.file.Files.delete(
      new java.io.File(log, f"${0L}%020d.checkpoint.parquet").toPath)
    refusedOnEveryReadPath(path)
  }

  test("an unstamped checkpoint read at exactly its version is refused on every read path") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    (1 to 10).foreach(v => TxLog.append(rows(v * 10 until v * 10 + 10), path, v - 1L))
    TxLog.currentVersion(path) shouldBe Some(10L)
    val ckpt = new java.io.File(path,
      s"${TxLog.LogDirName}/${f"${10L}%020d"}.checkpoint.parquet")
    // rewrite checkpoint 10 with its meta row stripped of the stamp; the
    // version records below it stay intact, so a reader that skipped the
    // checkpoint would still answer — it must refuse instead
    val stage = java.nio.file.Files.createTempDirectory("txproto_ckpt").toString
    spark.read.parquet(ckpt.getPath)
      .withColumn("meta", regexp_replace(col("meta"), "\"protocol\":\\d+,", ""))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    spark.read.parquet(stage).filter(col("kind") === "meta")
      .select("meta").as[String].head() should not include "protocol"
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.move(part.toPath, ckpt.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    refusedOnEveryReadPath(path)
    // the records alone still resolve it: only the checkpoint is refused
    TxLog.resolve(path, 10L, useCheckpoints = false).files should not be empty
  }
}
