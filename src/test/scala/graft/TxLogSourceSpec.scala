package graft

import graft.gold.TxLog
import graft.streaming.TxLogSource
import org.apache.spark.sql.functions._

/** The incremental TxLog streaming source (graft-txlog): offsets are log
  * versions, batches read each commit's add files IN PLACE, the engine
  * checkpoint is the resume point. These specs pin the four contract
  * points the copy-based replay harness could not: (1) zero staging —
  * every row's `input_file_name()` resolves inside the TABLE dir; (2)
  * admission control — one version per micro-batch by default, grouped
  * under a larger `maxVersionsPerTrigger`, never regressing across a
  * restart; (3) resume — a restarted query continues at exactly the next
  * unread version; (4) the append-only contract — a remove-action version
  * fails the query with a named error.
  */
class TxLogSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def rows(r: Range): org.apache.spark.sql.DataFrame =
    r.map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  /** Drain one streaming pass of the source into an append-mode parquet
    * sink that also captures each row's physical source file.
    */
  private def drain(path: String, out: String, ckpt: String,
      maxVersions: Long = 1L): Unit = {
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    val stream = graft.streaming.EventStream
      .streamTxLogTable(child, path, maxVersionsPerTrigger = maxVersions)
      .withColumn("src", input_file_name())
    val q = stream.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  private def batchCount(ckpt: String): Int =
    Option(new java.io.File(ckpt, "offsets").listFiles())
      .getOrElse(Array.empty).count(f => f.getName.forall(_.isDigit))

  test("reads committed appends in place, one version per micro-batch, orphan-blind") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 40).repartition(2), path)
    TxLog.append(rows(40 until 70), path, 0L)
    TxLog.append(rows(70 until 100), path, 1L)
    // a crashed writer's uncommitted orphan: identical rows, never published
    rows(0 until 40).write.mode("append").parquet(path)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    drain(path, out, ckpt)
    val got = spark.read.parquet(out)
    // every committed row exactly once; the orphan is invisible
    got.select("id").as[Long].collect().sorted shouldBe
      (0L until 100L).toArray
    // zero staging: every row was read from a file INSIDE the table dir
    val srcs = got.select("src").distinct().as[String].collect()
    all(srcs) should include(new java.io.File(path).getName)
    srcs.foreach(s => new java.io.File(new java.net.URI(s)).getParentFile
      .getCanonicalPath shouldBe new java.io.File(path).getCanonicalPath)
    // admission control: exactly one micro-batch per version
    batchCount(ckpt) shouldBe 3
  }

  test("resumes from a mid-log checkpoint at exactly the next unread version") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 10), path)
    TxLog.append(rows(10 until 20), path, 0L)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    drain(path, out, ckpt)
    spark.read.parquet(out).count() shouldBe 20L
    // two more commits land while the query is DOWN
    TxLog.append(rows(20 until 30), path, 1L)
    TxLog.append(rows(30 until 40), path, 2L)
    drain(path, out, ckpt) // SAME checkpoint: must resume at version 2
    val got = spark.read.parquet(out).select("id").as[Long].collect().sorted
    got shouldBe (0L until 40L).toArray // re-served versions would duplicate
    batchCount(ckpt) shouldBe 4 // 2 before the stop + 2 after
  }

  test("maxVersionsPerTrigger groups commits; an empty-add commit streams through") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 10), path)
    (1 to 4).foreach(i => TxLog.append(rows(i * 10 until i * 10 + 10), path,
      (i - 1).toLong))
    // an append that writes NO data files (0-partition frame): a legal
    // version whose offset range must still advance through the source
    TxLog.append(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      rows(0 until 1).schema), path, 4L)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    drain(path, out, ckpt, maxVersions = 2L)
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 50L).toArray
    // versions 0..5 in steps of 2: three micro-batches
    batchCount(ckpt) shouldBe 3
  }

  test("startingVersion floors a FRESH query; a resumed query keeps its own offsets") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 10), path)
    TxLog.append(rows(10 until 20), path, 0L)
    TxLog.append(rows(20 until 30), path, 1L)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    def drainFrom(sv: Long): Unit = {
      val q = child.readStream.format("graft-txlog")
        .option("path", path)
        .option(graft.streaming.TxLogSource.StartingVersionKey, sv.toString)
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drainFrom(1L) // fresh query: version 0's rows never served
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (10L until 30L).toArray
    // resume: the checkpointed offsets take over (same floor re-passed)
    TxLog.append(rows(30 until 40), path, 2L)
    drainFrom(1L)
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (10L until 40L).toArray
  }

  test("maxBytesPerTrigger: byte budget groups versions; a sub-minimum budget never starves") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 30).coalesce(1), path)
    (1 to 4).foreach(i =>
      TxLog.append(rows(i * 30 until i * 30 + 30).coalesce(1), path, i - 1L))
    val sizes = (0L to 4L).map(v => TxLog.fileActions(path, v)._1
      .map(f => new java.io.File(path, f).length()).sum)
    def drainBytes(ckpt: String, budget: Long): Long = {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", 4)
      val out = s"$work/out_$ckpt"
      val q = child.readStream.format("graft-txlog")
        .option("path", path)
        .option(TxLogSource.MaxBytesKey, budget.toString)
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$work/$ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).count()
    }
    // ~2.5 similar-sized versions per budget → exactly two admitted per
    // trigger (the third would exceed), last trigger takes the remainder
    val budget = 2 * sizes.max + sizes.min / 2
    drainBytes("ck_pair", budget) shouldBe 150L
    batchCount(s"$work/ck_pair") shouldBe 3
    // a budget below ANY single commit still admits one version per
    // trigger — rate limiting must never starve the stream
    drainBytes("ck_tiny", 1L) shouldBe 150L
    batchCount(s"$work/ck_tiny") shouldBe 5
  }

  test("CDF stream == the batch change feed, delete-before-insert per version") {
    val path = freshDir("txcdf") + "/t"
    val work = freshDir("txcdf_work")
    TxLog.init(rows(0 until 60).repartitionByRange(3, col("id")), path)
    TxLog.append(rows(60 until 90), path, 0L)
    TxLog.deleteWhere(spark, path, col("id") % 3 === 1L, 1L)
    TxLog.replaceWhereKeys(spark, path, rows(10 until 20).select("id"),
      Seq("id"), newData = rows(100 until 105), expectedVersion = 2L)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    val q = child.readStream.format("graft-txlog-cdf")
      .option("path", path).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
    val batchFeed = TxLog.changes(spark, path, -1L,
      TxLog.currentVersion(path).get)
    // identical multiset — the stream IS the incremental form of the feed
    streamed.exceptAll(batchFeed.select(streamed.columns.map(col): _*))
      .count() shouldBe 0L
    batchFeed.select(streamed.columns.map(col): _*).exceptAll(streamed)
      .count() shouldBe 0L
    // one micro-batch per version, and the rewrite versions carry BOTH sides
    batchCount(ckpt) shouldBe 4
    Seq(2L, 3L).foreach { v =>
      streamed.filter(col("_commit_version") === v &&
        col("_change_type") === "delete").count() should be > 0L
      streamed.filter(col("_commit_version") === v &&
        col("_change_type") === "insert").count() should be > 0L
    }
  }

  test("CDF mirror consumer: redelivered batches re-derive, never double-apply") {
    import graft.streaming.EventStream
    val path = freshDir("txcdf") + "/t"
    val mirrorPath = freshDir("txcdf_mirror") + "/m"
    TxLog.init(rows(0 until 30), path)
    TxLog.deleteWhere(spark, path, col("id") < 10L, 0L)
    val feed = TxLog.changes(spark, path, -1L, 1L)
    def applied(): Array[Long] =
      EventStream.readCdfMirror(spark, mirrorPath)
        .select("id").as[Long].collect().sorted
    EventStream.applyCdfBatch(feed.filter(col("_commit_version") === 0L),
      0L, mirrorPath, Seq("id"))
    EventStream.applyCdfBatch(feed.filter(col("_commit_version") === 1L),
      1L, mirrorPath, Seq("id"))
    applied() shouldBe (10L until 30L).toArray
    // the at-least-once redelivery: batch 1 applied AGAIN — identical state
    EventStream.applyCdfBatch(feed.filter(col("_commit_version") === 1L),
      1L, mirrorPath, Seq("id"))
    applied() shouldBe (10L until 30L).toArray
  }

  test("the offset log is the only stream position: nothing under <ckpt>/sources, and a restart without it resumes exactly") {
    // the engine hands a SupportsAdmissionControl source its start offset
    // from the offset log, so the source keeps no position file; a
    // checkpoint whose sources dir is gone resumes at the next version
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 10), path)
    TxLog.append(rows(10 until 20), path, 0L)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    drain(path, out, ckpt, maxVersions = 1L)
    spark.read.parquet(out).count() shouldBe 20L
    def filesUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) filesUnder(f) else Seq(f))
    filesUnder(new java.io.File(ckpt)).map(_.getName) should not contain
      "graft-txlog-cursor"
    val sources = new java.io.File(ckpt, "sources")
    filesUnder(sources) shouldBe empty
    org.apache.commons.io.FileUtils.deleteDirectory(sources)
    TxLog.append(rows(20 until 30), path, 1L)
    drain(path, out, ckpt, maxVersions = 1L)
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      (0L until 30L).toArray
    batchCount(ckpt) shouldBe 3
  }

  test("progress reports the table head as latestOffset: latestOffset - endOffset is the lag in versions") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 10), path)
    TxLog.append(rows(10 until 20), path, 0L)
    TxLog.append(rows(20 until 30), path, 1L)
    val child = spark.newSession()
    val q = graft.streaming.EventStream
      .streamTxLogTable(child, path, maxVersionsPerTrigger = 1L)
      .writeStream.format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val first = q.recentProgress.head.sources.head
    first.endOffset shouldBe "0"
    first.latestOffset shouldBe "2"
    q.recentProgress.last.sources.head.latestOffset shouldBe "2"
  }

  test("partitionFilter: the stream serves only matching partitions' adds, file-pruned") {
    import graft.gold.TxLog
    val work = freshDir("txsrc_pf")
    val path = s"$work/t"
    def part(r: Range) =
      r.map(i => (i.toLong, s"v$i", (i % 3).toLong)).toDF("id", "payload", "grp")
    TxLog.init(part(0 until 60).repartition(2), path,
      partitionBy = Seq("grp"))                      // v0
    TxLog.append(part(60 until 120), path, 0L)       // v1
    TxLog.append(part(120 until 150), path, 1L)      // v2
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    val stream = child.readStream.format("graft-txlog")
      .option("path", path)
      .option("partitionFilter", "grp = 1")
      .option("maxVersionsPerTrigger", "1")
      .load().withColumn("src", input_file_name())
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    val q = stream.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
    // exactly the grp=1 rows of all three versions
    got.count() shouldBe part(0 until 150).filter(col("grp") === 1L).count()
    got.filter(col("grp") =!= 1L).count() shouldBe 0L
    // FILE pruning, not row filtering: every physical file read is
    // partition-pure grp=1, i.e. the non-matching partitions' files were
    // never opened
    val snap = TxLog.snapshot(path)
    val readFiles = got.select("src").distinct().collect()
      .map(_.getString(0).split("/").last).toSet
    readFiles.foreach { f =>
      snap.stats(f).parts.head shouldBe Some("1")
    }
    // and matching files of OTHER partitions exist (the prune had work)
    snap.files.exists(f => snap.stats(f).parts.head != Some("1")) shouldBe true
  }

  test("partitionFilter: deletes in OTHER partitions are invisible; deletes touching the view keep the contract") {
    import graft.gold.TxLog
    val work = freshDir("txsrc_pfdel")
    val path = s"$work/t"
    def part(r: Range) =
      r.map(i => (i.toLong, s"v$i", (i % 3).toLong)).toDF("id", "payload", "grp")
    TxLog.init(part(0 until 60).repartition(2), path,
      partitionBy = Seq("grp"))                              // v0
    TxLog.deletePartitions(spark, path, col("grp") === 0L, 0L) // v1: other
    TxLog.append(part(60 until 90), path, 1L)                  // v2
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    def start(outName: String, ckptName: String) = {
      val s = child.readStream.format("graft-txlog")
        .option("path", path).option("partitionFilter", "grp = 1")
        .option("maxVersionsPerTrigger", "1").load()
      s.writeStream.format("parquet").option("path", s"$work/$outName")
        .option("checkpointLocation", s"$work/$ckptName")
        .outputMode("append").start()
    }
    // the grp=0 partition delete passes as an EMPTY batch — no
    // ignoreDeletes needed: the filtered view never saw those rows
    val q = start("out", "ckpt")
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$work/out").count() shouldBe
      part(0 until 90).filter(col("grp") === 1L).count()
    // now a delete TOUCHING grp=1: the filtered view saw rows die — the
    // append-only contract raises (named, mentioning the filter)
    TxLog.deletePartitions(spark, path, col("grp") === 1L, 2L) // v3
    val q2 = start("out2", "ckpt2")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    e.getMessage should include("partitionFilter")
  }

  test("partitionFilter: byte budget counts only matching files; option refused on unpartitioned tables and the CDF source") {
    import graft.gold.TxLog
    val work = freshDir("txsrc_pfbudget")
    val path = s"$work/t"
    def part(r: Range) =
      r.map(i => (i.toLong, s"v$i", (i % 3).toLong)).toDF("id", "payload", "grp")
    TxLog.init(part(0 until 30), path, partitionBy = Seq("grp"))
    (1 to 4).foreach(v => TxLog.append(part(v * 30 until v * 30 + 30),
      path, v - 1L))
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    // a huge byte budget with the filter: matching bytes per version are
    // tiny, so ALL versions fit one micro-batch (if the budget counted
    // FULL version bytes the same budget would still pass — so pin the
    // mechanics the other way: a small budget that fits >1 FILTERED
    // version but <2 FULL versions must still group more than one)
    val fullV1 = TxLog.versionAddBytes(path, 1L,
      spark.sparkContext.hadoopConfiguration)
    val stream = child.readStream.format("graft-txlog")
      .option("path", path).option("partitionFilter", "grp = 2")
      .option("maxBytesPerTrigger", (fullV1 + fullV1 / 2).toString)
      .load()
    val q = stream.writeStream.format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$work/out").count() shouldBe
      part(0 until 150).filter(col("grp") === 2L).count()
    val batches = Option(new java.io.File(s"$work/ckpt", "offsets")
      .listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.forall(_.isDigit))
    // filtered bytes per version ≈ fullV1/3, so the 1.5x-full budget
    // admits 4+ filtered versions per batch; full-byte accounting would
    // have split into >= 4 batches
    batches should be <= 2
    // refusals (createSource runs on the stream thread: drive the query
    // and read the named error off the StreamingQueryException)
    val plain = s"$work/plain"
    TxLog.init(rows(0 until 10), plain)
    val e = intercept[Exception] {
      val qq = child.readStream.format("graft-txlog").option("path", plain)
        .option("partitionFilter", "grp = 1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_plain").start()
      try qq.processAllAvailable() finally qq.stop()
    }
    e.getMessage should include("PARTITIONED table")
    val e2 = intercept[Exception] {
      val qq = child.readStream.format("graft-txlog-cdf").option("path", path)
        .option("partitionFilter", "grp = 1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_cdf").start()
      try qq.processAllAvailable() finally qq.stop()
    }
    e2.getMessage should include("not supported on the change feed")
  }

  test("a remove-action version fails the stream with the append-only error") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 40).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhere(spark, path, col("id") < 10L, 0L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(path, s"$work/out", s"$work/ckpt", maxVersions = 10L)
    }
    e.getMessage should include("APPEND-ONLY")
  }

  test("ignoreDeletes passes delete-ONLY commits; a remove+add rewrite still fails") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    // range-clustered so id < 10 matches EXACTLY one whole file → the
    // delete commit is remove-only (no survivor rewrite): the retention
    // shape ignoreDeletes exists for
    TxLog.init(rows(0 until 40).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhere(spark, path, col("id") < 10L, 0L)
    TxLog.resolve(path, 1L, useCheckpoints = false) // sanity: table intact
    TxLog.append(rows(40 until 50), path, 1L)
    def drainIgnoring(out: String, ckpt: String): Unit = {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", 4)
      val q = child.readStream.format("graft-txlog")
        .option("path", path)
        .option(graft.streaming.TxLogSource.IgnoreDeletesKey, "true")
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drainIgnoring(s"$work/out", s"$work/ckpt")
    // the stream serves every ADD: the deleted rows were served when
    // their file was added (the documented Delta ignoreDeletes contract —
    // downstream consumers keep them)
    spark.read.parquet(s"$work/out").select("id").as[Long].collect()
      .sorted shouldBe (0L until 50L).toArray
    // a PARTIAL-file delete (remove + survivor-rewrite add) must still
    // fail even under ignoreDeletes: its adds re-deliver held rows
    TxLog.deleteWhere(spark, path, col("id") === 15L, 2L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainIgnoring(s"$work/out", s"$work/ckpt")
    }
    e.getMessage should include("APPEND-ONLY")
  }

  test("schema-evolution contract: a mid-stream widen fails NAMED; a restart serves the widened schema null-filled") {
    val path = freshDir("txsrc") + "/t"
    val work = freshDir("txsrc_work")
    TxLog.init(rows(0 until 10), path)
    val out = s"$work/out"; val ckpt = s"$work/ckpt"
    // the table WIDENS while the query is LIVE: the batch covering the
    // widening version must fail with the named contract error — the
    // pinned query-start schema would silently drop the new column
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", 4)
      val q = child.readStream.format("graft-txlog").option("path", path)
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable() // serves v0 under the pinned (id, payload)
        TxLog.append(rows(10 until 20).withColumn("extra", col("id") * 2),
          path, 0L)
        q.processAllAvailable() // v1 widens: must raise, not drop `extra`
      } finally q.stop()
    }
    e.getMessage should include("widened mid-stream")
    e.getMessage should include("Restart the query")
    spark.read.parquet(out).count() shouldBe 10L // v1 served nothing
    // RESTART = source construction re-derives the schema: the SAME
    // checkpoint (and sink - the file sink's _spark_metadata rides the
    // output dir) resumes at v1 and the widened column appears
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    val q = child.readStream.format("graft-txlog").option("path", path).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.option("mergeSchema", "true").parquet(out)
    got.columns.toSet shouldBe Set("id", "payload", "extra")
    got.select("id").as[Long].collect().sorted shouldBe (0L until 20L).toArray
    got.filter(col("id") >= 10L).select("extra").as[Long].collect()
      .sorted shouldBe (10L until 20L).map(_ * 2).toArray
    // a fresh query over the full widened table null-fills v0's rows
    val q2 = child.readStream.format("graft-txlog").option("path", path).load()
      .writeStream.format("parquet").option("path", s"$work/out3")
      .option("checkpointLocation", s"$work/ckpt3")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val full = spark.read.parquet(s"$work/out3")
    full.filter(col("id") < 10L && col("extra").isNull).count() shouldBe 10L
    // the CDF source enforces the same contract
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val c2 = spark.newSession()
      c2.conf.set("spark.sql.shuffle.partitions", 4)
      val path2 = freshDir("txsrc") + "/t"
      TxLog.init(rows(0 until 5), path2)
      val q3 = c2.readStream.format("graft-txlog-cdf")
        .option("path", path2).load()
        .writeStream.format("parquet").option("path", s"$work/out4")
        .option("checkpointLocation", s"$work/ckpt4")
        .outputMode("append").start()
      try {
        q3.processAllAvailable()
        TxLog.append(rows(5 until 8).withColumn("extra", lit(1L)), path2, 0L)
        q3.processAllAvailable()
      } finally q3.stop()
    }
    e2.getMessage should include("widened mid-stream")
  }
}
