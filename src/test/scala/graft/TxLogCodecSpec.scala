package graft

import graft.gold.TxLog
import graft.gold.TxLog.{ColStats, FileStats, Snapshot, VersionRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The log codec round-trips every value it is given: a version record
  * through [[TxLog.encodeRecord]] / [[TxLog.decodeRecord]] (what
  * `publish` writes and `parseRecord` reads) and a checkpoint through
  * `writeCheckpointParquet` / `readCheckpointParquet` — seeded
  * properties over hostile text (quotes, backslashes, newlines, control
  * characters, separators, emoji), empty strings next to absent values,
  * NULL partition values next to `""`, deletion-vector clears, and the
  * extreme long bounds.
  */
class TxLogCodecSpec extends SparkSpecBase {
  import spark.implicits._

  private val Pieces = Seq("", "\"", "\\", "\n", "\u0001", ",", ":", ";",
    "\t", "😀", "p", "P", "null", "{\"k\":[1]}", "a b", "=")

  private def hostile(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(4))(Pieces(rnd.nextInt(Pieces.size))).mkString +
      rnd.alphanumeric.take(rnd.nextInt(3)).mkString

  private def bound(rnd: scala.util.Random): Long = rnd.nextInt(5) match {
    case 0 => Long.MinValue
    case 1 => Long.MaxValue
    case 2 => 0L
    case _ => rnd.nextLong()
  }

  private def opt[T](rnd: scala.util.Random)(t: => T): Option[T] =
    if (rnd.nextBoolean()) Some(t) else None

  private def strs(rnd: scala.util.Random, max: Int): Seq[String] =
    Seq.fill(rnd.nextInt(max))(hostile(rnd)).distinct

  private def strMap(rnd: scala.util.Random, max: Int): Map[String, String] =
    strs(rnd, max).map(_ -> hostile(rnd)).toMap

  private def schema(rnd: scala.util.Random): StructType =
    StructType(strs(rnd, 4).map(c => StructField(c,
      if (rnd.nextBoolean()) LongType else StringType, rnd.nextBoolean())))

  private def parts(rnd: scala.util.Random): Seq[Option[String]] =
    Seq.fill(rnd.nextInt(3))(opt(rnd)(hostile(rnd)))

  private def fileStats(rnd: scala.util.Random): FileStats =
    FileStats(bound(rnd), strs(rnd, 3).map(c => c -> ColStats(
      hostile(rnd), bound(rnd), opt(rnd)(bound(rnd)), opt(rnd)(bound(rnd)),
      opt(rnd)(hostile(rnd)), opt(rnd)(hostile(rnd)))).toMap,
      opt(rnd)(bound(rnd)), parts(rnd))

  private def record(rnd: scala.util.Random): VersionRecord = {
    val add = strs(rnd, 4)
    VersionRecord(add, strs(rnd, 3), schema(rnd),
      opt(rnd)((hostile(rnd), bound(rnd))), opt(rnd)(strMap(rnd, 3)),
      add.filter(_ => rnd.nextBoolean()).map(_ -> fileStats(rnd)).toMap,
      opt(rnd)((hostile(rnd), strMap(rnd, 3))),
      strs(rnd, 3).map(_ -> opt(rnd)(hostile(rnd))).toMap, bound(rnd),
      opt(rnd)(strs(rnd, 3)), strs(rnd, 3).map(_ -> parts(rnd)).toMap,
      opt(rnd)(strMap(rnd, 3)), opt(rnd)(strs(rnd, 3).toSet))
  }

  test("version records round-trip hostile values, one line, deterministically") {
    val rnd = new scala.util.Random(0x7C0DECL)
    (0 until 500).foreach { i =>
      val rec = record(rnd)
      val bytes = TxLog.encodeRecord(i.toLong, rec)
      withClue(s"case $i ${new String(bytes, "UTF-8")}: ") {
        new String(bytes, "UTF-8") should not include "\n"
        val back = TxLog.decodeRecord("t", bytes)
        back shouldBe rec
        TxLog.encodeRecord(i.toLong, back) shouldBe bytes
      }
    }
  }

  test("the edge values the old markers encoded keep their meaning") {
    val rec = VersionRecord(Seq("f1"), Nil, new StructType().add("s", "string"),
      None, Some(Map.empty), Map("f1" -> FileStats(3L,
        Map("s" -> ColStats("s", 0L, None, None, Some(""), None)), None,
        Seq(None, Some("")))), None, Map("f1" -> None, "f2" -> Some("dv")),
      Long.MinValue, Some(Seq("g", "h")), Map.empty, None, Some(Set.empty))
    TxLog.decodeRecord("t", TxLog.encodeRecord(7L, rec)) shouldBe rec
    val text = new String(TxLog.encodeRecord(7L, rec), "UTF-8")
    text should include(""""strMin":""""")
    text should include(""""parts":[null,""]""")
    text should include(""""dvs":{"f1":null,"f2":"dv"}""")
    text should include(""""constraints":{}""")
  }

  test("parquet checkpoints round-trip hostile values") {
    val rnd = new scala.util.Random(0xC4EC7C0DECL)
    val path = java.nio.file.Files.createTempDirectory("txcodec").toString
    new java.io.File(path, TxLog.LogDirName).mkdirs()
    (0 until 40).foreach { i =>
      val files = strs(rnd, 5)
      val snap = Snapshot(i.toLong, files, schema(rnd),
        strs(rnd, 3).map(_ -> bound(rnd)).toMap, strMap(rnd, 3),
        files.filter(_ => rnd.nextBoolean()).map(_ -> fileStats(rnd)).toMap,
        files.filter(_ => rnd.nextBoolean()).map(_ -> hostile(rnd)).toMap,
        strs(rnd, 3), strMap(rnd, 3), strs(rnd, 3).toSet)
      TxLog.writeCheckpointParquet(path, snap)
      withClue(s"case $i: ") {
        TxLog.readCheckpointParquet(path, snap.version) shouldBe Some(snap)
      }
    }
  }

  test("publish and parse keep hostile constraint SQL, app ids and commit params") {
    val path = java.nio.file.Files.createTempDirectory("txcodec").toString + "/t"
    val weird = "q\"\\\n\u0001,:;\t😀"
    val rows = (0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    TxLog.init(rows, path)                                                 // v0
    val check = "payload <> '" + weird.replace("\\", "\\\\") + "'"
    TxLog.addConstraint(spark, path, weird, check, 0L)                     // v1
    TxLog.appendIfNew(rows, path, weird, 5L, 1L)                           // v2
    TxLog.deleteWhere(spark, path, col("payload") === weird, 2L)           // v3
    val snap = TxLog.snapshot(path)
    snap.constraints shouldBe Map(weird -> check)
    snap.txns shouldBe Map(weird -> 5L)
    val infos = TxLog.commitInfos(path).map(ci => ci.version -> ci.params).toMap
    infos(1L) shouldBe Map("name" -> weird, "check" -> check)
    infos(3L) shouldBe Map("predicate" -> (col("payload") === weird).toString)
    TxLog.resolve(path, 3L, useCheckpoints = false) shouldBe snap
    TxLog.read(spark, path).count() shouldBe 20L
  }
}
