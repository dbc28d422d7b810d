package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.gold.TxLog

/** The TxLog file index's skipping contract: (1) an ordinary
  * `TxLog.read(...).filter(...)` scan reads strictly fewer files with
  * ZERO extra jobs, in any session with nothing set; (2) pruning is
  * SOUND across predicate shapes in BOTH stat domains — canonical longs
  * and truncated string bounds (UTF8 binary order, incl. the
  * supplementary-plane boundary where UTF-16 order would mis-prune);
  * (3) the stats are TRANSACTIONALLY CONSISTENT — a delete/rewrite
  * immediately yields the new version's pruning, and a time-travel scan
  * prunes with that version's own stats.
  */
class TxLogStatsRuleSpec extends SparkSpecBase {
  import spark.implicits._

  /** Files each parquet scan of `df`'s executed plan actually read. */
  private def scanFileCounts(df: DataFrame): Seq[Int] = {
    df.collect() // force final (AQE-resolved) plan
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles.toInt
    }.toSeq
  }

  /** `df`'s rows as a scan-free local frame: filters over it see every
    * row, so it is the unpruned reference for a filtered read.
    */
  private def unpruned(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txstats").toString + "/t"

  test("TxLog.read scans auto-prune through log stats and stay oracle-identical") {
    val path = freshPath()
    TxLog.init(
      (0 until 800).map { i =>
        (i.toLong,
          java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i % 400)),
          java.time.LocalDateTime.of(2020, 1, 1, 12, 0).plusDays(i % 400),
          s"r$i")
      }.toDF("k", "d", "ts", "payload").repartitionByRange(8, col("k")),
      path)
    val total = TxLog.snapshot(path).files.size
    total shouldBe 8
    scanFileCounts(TxLog.read(spark, path)).foreach(_ shouldBe total)
    val all = unpruned(TxLog.read(spark, path))

    val predicates: Seq[(DataFrame => DataFrame, Boolean)] = Seq(
      ((d: DataFrame) => d.filter(col("k") >= 100L && col("k") <= 199L), true),
      ((d: DataFrame) => d.filter(col("k") === 250L), true),
      ((d: DataFrame) => d.filter(lit(650L) <= col("k")), true), // reversed
      // k is range-clustered so d/ts correlate through i%400 only in the
      // first half — a k-conjunct mixed with an un-prunable string one
      ((d: DataFrame) => d.filter(col("k") < 90L && col("payload") =!= "r5"), true),
      // DATE bound (Catalyst days == log canonical days): first file only
      ((d: DataFrame) => d.filter(col("k") < 90L &&
        col("d") >= lit("2020-01-01").cast("date")), true),
      // string-only predicate: the truncated string stats prune too
      // (payload "r$i" boxes are lexically disjoint enough here)
      ((d: DataFrame) => d.filter(col("payload") === "r5"), true)
    )
    for (((pred, expectPrune), i) <- predicates.zipWithIndex) {
      val pruned = pred(TxLog.read(spark, path))
      val full = pred(all)
      withClue(s"predicate #$i: ") {
        pruned.collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe
          full.collect().map(_.toSeq).sortBy(_.mkString("|"))
        val counts = scanFileCounts(pruned)
        counts should not be empty
        if (expectPrune) counts.foreach(_ should be < total)
        else counts.foreach(_ shouldBe total)
      }
    }
    // TIMESTAMP_NTZ bound (Catalyst micros == log canonical micros)
    val ntz = TxLog.read(spark, path)
      .filter(col("ts") < lit("2020-01-15 00:00:00").cast("timestamp_ntz"))
    ntz.select(count(lit(1))).as[Long].head() shouldBe
      all.filter(col("ts") < lit("2020-01-15 00:00:00").cast("timestamp_ntz"))
        .count()
    scanFileCounts(ntz).foreach(_ should be < total)
    // an impossible interval prunes to zero files, result empty
    val none = TxLog.read(spark, path).filter(col("k") > 5000L)
    none.collect() shouldBe empty
    scanFileCounts(none).foreach(_ shouldBe 0)
  }

  test("string stats: truncated bounds stay sound on long values and prune; UTF8 order on supplementary planes") {
    val path = freshPath()
    // every value is LONGER than the 32-cp stat cap: all recorded bounds
    // are truncated — strMin a 32-cp prefix, strMax the incremented prefix
    val pad = "x" * 40
    TxLog.init(
      (0 until 100).map { i =>
        val grp = ('a' + i / 25).toChar // 4 lexical groups a..d
        (i.toLong, s"$grp$pad${"%03d".format(i)}")
      }.toDF("k", "s").repartitionByRange(4, col("s")),
      path)
    val snap = TxLog.snapshot(path)
    snap.stats.values.foreach { fs =>
      val cs = fs.cols("s")
      cs.typ shouldBe "s"
      cs.min shouldBe None // string cols carry no long-domain bounds
      cs.strMin.get.codePointCount(0, cs.strMin.get.length) shouldBe 32
      val mx = cs.strMax.get
      mx.codePointCount(0, mx.length) shouldBe 32
      mx.last shouldBe 'y' // the incremented trailing 'x' of the prefix
    }
    val pruned = TxLog.read(spark, path).filter(col("s") >= "b" && col("s") < "c")
    val full = unpruned(TxLog.read(spark, path))
      .filter(col("s") >= "b" && col("s") < "c")
    pruned.select("k").as[Long].collect().sorted shouldBe
      full.select("k").as[Long].collect().sorted
    scanFileCounts(pruned).foreach(_ should be < 4)

    // supplementary-plane boundary: U+FFFF sorts BELOW U+1F600 in UTF8 /
    // code-point order but ABOVE it in java.lang.String UTF-16 order — a
    // UTF-16 comparison would prune the emoji file under `>= "￿"`
    // and silently drop its rows
    val path2 = freshPath()
    TxLog.init(
      Seq((0L, "a"), (1L, "z"), (2L, "\uFFFF"),
        (3L, new String(Character.toChars(0x1F600))))
        .toDF("k", "s").repartitionByRange(2, col("s")),
      path2)
    TxLog.read(spark, path2).filter(col("s") >= lit("\uFFFF"))
      .select("k").as[Long].collect().sorted shouldBe Array(2L, 3L)
  }

  test("version-keyed cache: a rewrite prunes with the NEW stats immediately; time travel keeps removed files") {
    val path = freshPath()
    TxLog.init((0 until 800).map(i => (i.toLong, s"r$i")).toDF("k", "payload")
      .repartitionByRange(8, col("k")), path)
    scanFileCounts(TxLog.read(spark, path).filter(col("k") <= 99L))
      .foreach(_ should be < 8)
    // delete the low range: its file leaves; pruning must follow the new
    // version at once (stats ride in the commit — no staleness window)
    TxLog.deleteWhere(spark, path, col("k") <= 99L, 0L)
    val after = TxLog.read(spark, path).filter(col("k") <= 150L)
    after.select(sum(col("k"))).as[Long].head() shouldBe (100L to 150L).sum
    scanFileCounts(after).foreach(_ shouldBe 1)
    // time travel BELOW the delete reads the removed file, pruned with
    // version 0's own stats: exact result, fewer than its 8 files
    val tt = TxLog.read(spark, path, asOf = Some(0L)).filter(col("k") <= 150L)
    tt.select(sum(col("k"))).as[Long].head() shouldBe (0L to 150L).sum
    scanFileCounts(tt).foreach(_ should be < 8)
  }

  test("every TxLog read prunes with no conf: two tables and time travel") {
    def table(n: Int): String = {
      val p = freshPath()
      TxLog.init((0 until n).map(i => (i.toLong, s"r$i")).toDF("k", "payload")
        .repartitionByRange(8, col("k")), p)
      p
    }
    val (a, b) = (table(800), table(400))
    // rewrite every file of b at v1 (each loses its multiples of 7), so
    // version 0's files are all removed from the head snapshot
    TxLog.deleteWhere(spark, b, col("k") % 7 === 0L, 0L)
    TxLog.snapshot(b).files.toSet.intersect(
      TxLog.snapshot(b, Some(0L)).files.toSet) shouldBe empty
    val reads: Seq[(String, DataFrame, DataFrame, Int)] = Seq(
      ("table a", TxLog.read(spark, a), unpruned(TxLog.read(spark, a)),
        TxLog.snapshot(a).files.size),
      ("table b", TxLog.read(spark, b), unpruned(TxLog.read(spark, b)),
        TxLog.snapshot(b).files.size),
      ("table b versionAsOf 0",
        spark.read.format("graft-txlog").option("path", b)
          .option("versionAsOf", "0").load(),
        unpruned(TxLog.read(spark, b, asOf = Some(0L))),
        TxLog.snapshot(b, Some(0L)).files.size))
    for ((name, read, all, files) <- reads) withClue(s"$name: ") {
      val filtered = read.filter(col("k").between(100L, 149L))
      filtered.select("k").as[Long].collect().sorted shouldBe
        all.filter(col("k").between(100L, 149L)).select("k").as[Long]
          .collect().sorted
      val counts = scanFileCounts(filtered)
      counts should not be empty
      counts.foreach(_ should be < files)
    }
  }

  test("stats pruning COMPOSES with deletion vectors: pushdown restores the eligible shape below the anti-join") {
    val path = freshPath()
    TxLog.init(
      (0 until 800).map(i => (i.toLong, s"r$i"))
        .toDF("k", "payload").repartitionByRange(8, col("k")),
      path)
    TxLog.deleteWhereDV(spark, path, col("k") % 10 === 3, 0L)
    val total = TxLog.snapshot(path).files.size
    // AQE wraps the join sides in QueryStageExec LEAVES, hiding the scans
    // from plan.collect — turn it off so the file-count assertions can
    // see them (pruning itself is AQE-independent: the file index drops
    // files when the scan lists them)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 4)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val pruned = TxLog.read(s, path).filter(col("k") >= 100L && col("k") <= 199L)
    // soundness first: identical rows (DVs applied AND files pruned)
    pruned.select("k").as[Long].collect().sorted shouldBe
      unpruned(TxLog.read(s, path)).filter(col("k") >= 100L && col("k") <= 199L)
        .select("k").as[Long].collect().sorted
    pruned.select("k").as[Long].collect().sorted shouldBe
      (100L to 199L).filterNot(_ % 10 == 3).toArray
    // the plan keeps the DV anti-join AND the DATA-side scan reads fewer
    // files — the user filter was pushed below the LeftAnti join onto
    // the parquet relation, whose file index pruned it (identify the
    // data scan by its `k` column; the other scan is the metadata-scale
    // DV sidecar)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan
    plan.toString should include("LeftAnti")
    val dataScans = plan.collect {
      case f: FileSourceScanExec
          if f.output.exists(_.name == "k") &&
            f.relation.location.rootPaths.exists(_.getName.startsWith("part-")) =>
        f.selectedPartitions.totalNumberOfFiles
    }
    dataScans should not be empty
    dataScans.foreach(_ should be < total.toLong)
    // the unfiltered read of the same session scans every file
    val full = TxLog.read(s, path)
    full.collect()
    full.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.output.exists(_.name == "k") =>
        f.selectedPartitions.totalNumberOfFiles
    }.foreach(_ shouldBe total.toLong)
  }
}
