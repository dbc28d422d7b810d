package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The automatic data-skipping rule's contract: (1) pruning actually
  * happens — the executed scan reads strictly fewer files — whenever the
  * table root holds a `_graft_stats` sidecar, and never without one;
  * (2) pruning is SOUND — pruned result ≡ unpruned result for every
  * predicate shape the rule understands and for ones it must ignore;
  * (3) a STALE sidecar costs skipping, never rows: a file appended after
  * the build is read, a listed file since deleted is not; (4) a rebuilt
  * index invalidates the driver-side stats cache; (5) loading a sidecar
  * logs no Spark warning.
  */
class SkipIndexRuleSpec extends SparkSpecBase {
  import spark.implicits._

  /** Files each parquet scan of `df`'s executed plan actually read. */
  private def scanFileCounts(df: DataFrame): Seq[Int] = {
    df.collect() // force final (AQE-resolved) plan
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles.toInt
    }.toSeq
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def writeTable(path: String): Unit = {
    // k runs 0..799 range-clustered into 8 files of ~tight [k] ranges
    (0 until 800).map(i => (i.toLong, i % 7, s"r$i"))
      .toDF("k", "grp", "payload")
      .repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(path)
    gold.StatsIndex.write(spark, path, Seq("k"))
  }

  /** A copy of the table at `path` without its `_graft_stats` sidecar:
    * the unpruned reference for the same files.
    */
  private def plainCopy(path: String): String = {
    val src = java.nio.file.Paths.get(path)
    val dst = java.nio.file.Files.createTempDirectory("skipidx-plain").resolve("t")
    java.nio.file.Files.createDirectories(dst)
    src.toFile.listFiles().filter(_.isFile).foreach(f =>
      java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)))
    dst.toString
  }

  /** `body`'s result and the messages Spark's `DataSource` logged at WARN
    * or above while it ran.
    */
  private def withDataSourceWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger(
      classOf[org.apache.spark.sql.execution.datasources.DataSource].getName)
      .asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("dataSourceWarnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    val out = try body finally { logger.removeAppender(appender); appender.stop() }
    (out, seen.toArray(Array.empty[String]).toSeq)
  }

  test("loading the sidecar logs no ignored-path warning") {
    val path = java.nio.file.Files.createTempDirectory("skipidx-log").toString + "/t"
    writeTable(path)
    val (counts, warnings) = withDataSourceWarnings(
      scanFileCounts(spark.read.parquet(path).filter(col("k") <= 99L)))
    counts should not be empty
    counts.foreach(_ should be < 8)
    warnings.filter(_.contains("ignored")) shouldBe empty
  }

  test("rule prunes the scan and stays oracle-identical across predicate shapes") {
    val path = java.nio.file.Files.createTempDirectory("skipidx").toString + "/t"
    writeTable(path)
    val plain = plainCopy(path)
    // one base frame for every predicate: each query prunes on its own
    val indexed = spark.read.parquet(path)

    val predicates: Seq[(DataFrame => DataFrame, Boolean)] = Seq(
      // (predicate, expectPrune)
      ((d: DataFrame) => d.filter(col("k") >= 100L && col("k") <= 199L), true),
      ((d: DataFrame) => d.filter(col("k") === 250L), true),
      ((d: DataFrame) => d.filter(col("k") > 700L), true),
      ((d: DataFrame) => d.filter(lit(650L) <= col("k")), true), // reversed operands
      ((d: DataFrame) => d.filter(col("k") < 90L && col("grp") === 3), true), // mixed conjuncts
      ((d: DataFrame) => d.filter(col("grp") === 3), false) // un-indexed only: no prune
    )
    for (((pred, expectPrune), i) <- predicates.zipWithIndex) {
      val pruned = pred(indexed)
      val full = pred(spark.read.parquet(plain))
      withClue(s"predicate #$i: ") {
        rowsOf(pruned) shouldBe rowsOf(full)
        val counts = scanFileCounts(pruned)
        if (expectPrune) counts.foreach(_ should be < 8)
        else counts.foreach(_ shouldBe 8)
        // the same table copied without _graft_stats never prunes
        scanFileCounts(full).foreach(_ shouldBe 8)
      }
    }
    // an impossible interval prunes to zero files, result empty
    val none = indexed.filter(col("k") > 5000L)
    none.collect() shouldBe empty
    scanFileCounts(none).foreach(_ shouldBe 0)
  }

  test("date, string, and timestamp_ntz predicates prune and stay sound") {
    val path = java.nio.file.Files.createTempDirectory("skipidx-dt")
      .toString + "/t"
    // 400 days from 2020-01-01, clustered by date into 8 files; s runs
    // s000..s399 (lexicographic == numeric here); ts tracks d at noon
    (0 until 400).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        f"s$i%03d",
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i).atTime(12, 0)),
        i.toLong)
    }.toDF("d", "s", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .repartitionByRange(8, col("d"))
      .write.mode("overwrite").parquet(path)
    gold.StatsIndex.write(spark, path, Seq("d", "s", "ts"))
    val plain = plainCopy(path)
    val predicates: Seq[DataFrame => DataFrame] = Seq(
      d => d.filter(col("d") >= lit("2020-02-01").cast("date") &&
        col("d") < lit("2020-03-01").cast("date")),
      d => d.filter(col("s") === "s123"),
      d => d.filter(col("s") >= "s350"),
      d => d.filter(col("ts") < lit("2020-01-15 00:00:00").cast("timestamp_ntz"))
    )
    for ((pred, i) <- predicates.zipWithIndex) {
      val pruned = pred(spark.read.parquet(path))
      val full = pred(spark.read.parquet(plain))
      withClue(s"predicate #$i: ") {
        rowsOf(pruned) shouldBe rowsOf(full)
        scanFileCounts(pruned).foreach(_ should be < 8)
        scanFileCounts(full).foreach(_ shouldBe 8)
      }
    }
  }

  test("a file appended after the sidecar build is read") {
    val path = java.nio.file.Files.createTempDirectory("skipidx-add")
      .toString + "/t"
    writeTable(path)
    (100 until 110).map(i => (i.toLong, i % 7, s"late$i"))
      .toDF("k", "grp", "payload").coalesce(1)
      .write.mode("append").parquet(path)
    val q = spark.read.parquet(path).filter(col("k").between(100L, 199L))
    q.count() shouldBe 110L
    rowsOf(q) shouldBe rowsOf(
      spark.read.parquet(plainCopy(path)).filter(col("k").between(100L, 199L)))
    scanFileCounts(q).foreach(_ should be < 9) // the other files still prune
  }

  test("a listed file deleted after the sidecar build is not read") {
    val path = java.nio.file.Files.createTempDirectory("skipidx-del")
      .toString + "/t"
    writeTable(path)
    val victim = spark.read.parquet(path).filter(col("k") === 150L)
      .select(input_file_name()).as[String].head()
    new java.io.File(new java.net.URI(victim)).delete() shouldBe true
    val q = spark.read.parquet(path).filter(col("k").between(100L, 399L))
    rowsOf(q) shouldBe rowsOf(
      spark.read.parquet(plainCopy(path)).filter(col("k").between(100L, 399L)))
    scanFileCounts(q).foreach(_ should be < 7)
  }

  test("a rebuilt index invalidates the stats cache") {
    val path = java.nio.file.Files.createTempDirectory("skipidx2").toString + "/t"
    writeTable(path)
    scanFileCounts(
      spark.read.parquet(path).filter(col("k") <= 99L)).foreach(_ should be < 8)
    // rewrite: same key space but 2 files — stale stats would prune wrong
    (0 until 800).map(i => (i.toLong, i % 7, s"r$i"))
      .toDF("k", "grp", "payload")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(path)
    gold.StatsIndex.write(spark, path, Seq("k"))
    val after = spark.read.parquet(path).filter(col("k") <= 99L)
    after.select(sum(col("k"))).as[Long].collect().head shouldBe (0L to 99L).sum
    scanFileCounts(after).foreach(_ shouldBe 1)
  }
}
