package graft

import graft.gold.TxLog
import org.apache.spark.sql.functions._

/** Partitioned TxLog tables (Delta's partitionColumns/partitionValues
  * shape, log-native): partition-aligned files with values recorded in
  * the add actions, zero-job partition pruning, METADATA-ONLY partition
  * deletes, replaceWhere partition overwrite — plus the zero-copy CLONE
  * and the batch writer's partitionBy/txn options.
  */
class TxLogPartitionSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txlogpart").toString + "/t"

  private def rows(r: Range): org.apache.spark.sql.DataFrame =
    r.map(i => (i.toLong, s"v$i", (i % 5).toLong)).toDF("id", "payload", "grp")

  /** Jobs launched while `body` runs (listener-counted, bus drained). */
  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    } finally sc.removeSparkListener(l)
    n.get()
  }

  test("partitioned init+append: files partition-pure, values recorded, read identical to plain") {
    val path = freshPath()
    val s0 = TxLog.init(rows(0 until 200).repartition(3), path,
      partitionBy = Seq("grp"))
    s0.partitionCols shouldBe Seq("grp")
    TxLog.append(rows(200 until 300), path, 0L)
    val snap = TxLog.snapshot(path)
    snap.partitionCols shouldBe Seq("grp")
    // every file carries a recorded 1-tuple
    snap.files.foreach { f =>
      snap.stats(f).parts.size shouldBe 1
      snap.stats(f).parts.head.isDefined shouldBe true
    }
    // physical partition purity: each file holds exactly one grp value,
    // and it is the recorded one
    val perFile = TxLog.read(spark, path)
      .groupBy(input_file_name().as("f"))
      .agg(countDistinct(col("grp")).as("n"),
        min(col("grp")).cast("string").as("v"))
      .collect()
    perFile.foreach { r =>
      r.getAs[Long]("n") shouldBe 1L
      val name = r.getAs[String]("f").split("/").last
      snap.stats(name).parts.head shouldBe Some(r.getAs[String]("v"))
    }
    // content identical to an unpartitioned write of the same rows
    val expect = rows(0 until 300)
    TxLog.read(spark, path).exceptAll(expect).count() shouldBe 0L
    expect.exceptAll(TxLog.read(spark, path)).count() shouldBe 0L
  }

  test("readPartitions == read().filter, and it prunes at file granularity") {
    val path = freshPath()
    TxLog.init(rows(0 until 500).repartition(4), path,
      partitionBy = Seq("grp"))
    val (matching, rest) =
      TxLog.prunedFilesByPartition(spark, path, col("grp") === 2L)
    matching should not be empty
    rest should not be empty // pruning actually skipped files
    val pruned = TxLog.readPartitions(spark, path, col("grp") === 2L)
    val filtered = TxLog.read(spark, path).filter(col("grp") === 2L)
    pruned.exceptAll(filtered).count() shouldBe 0L
    filtered.exceptAll(pruned).count() shouldBe 0L
    // range predicates evaluate too (full Spark semantics, not equality)
    val (m2, _) = TxLog.prunedFilesByPartition(spark, path, col("grp") >= 3L)
    m2.toSet shouldBe TxLog.snapshot(path).files.filter(f =>
      TxLog.snapshot(path).stats(f).parts.head.exists(_.toLong >= 3L)).toSet
  }

  test("deletePartitions is metadata-only: no data files read or written") {
    val path = freshPath()
    TxLog.init(rows(0 until 400).repartition(4), path,
      partitionBy = Seq("grp"))
    val before = TxLog.snapshot(path)
    val dataFilesBefore = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val jobs = countJobs {
      TxLog.deletePartitions(spark, path, col("grp").isin(1L, 3L), 0L); ()
    }
    // the partition split folds over a LocalRelation of log metadata —
    // a couple of trivial driver-side jobs at most, and FLAT in the
    // table's file count (nothing scans data)
    jobs should be <= 2
    val dataFilesAfter = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    dataFilesAfter shouldBe dataFilesBefore // nothing written or deleted
    TxLog.read(spark, path).filter(col("grp").isin(1L, 3L)).count() shouldBe 0L
    TxLog.read(spark, path).count() shouldBe
      rows(0 until 400).filter(!col("grp").isin(1L, 3L)).count()
    // removed files' stats/dvs dropped from the snapshot
    val after = TxLog.snapshot(path)
    after.files.toSet shouldBe before.files.filter(f =>
      !Set[Option[String]](Some("1"), Some("3"))
        .contains(before.stats(f).parts.head)).toSet
    // time travel below the delete still serves everything
    TxLog.read(spark, path, asOf = Some(0L)).count() shouldBe 400L
    // CDF: the delete emits exactly the removed partitions' rows
    val changes = TxLog.changes(spark, path, fromExclusive = 0L, to = 1L)
    changes.filter(col("_change_type") === "delete").count() shouldBe
      rows(0 until 400).filter(col("grp").isin(1L, 3L)).count()
    changes.filter(col("_change_type") === "insert").count() shouldBe 0L
  }

  test("NULL partition: UNKNOWN never matches; isNull targets it explicitly") {
    val path = freshPath()
    val data = Seq((1L, java.lang.Long.valueOf(0L)),
      (2L, java.lang.Long.valueOf(1L)),
      (3L, null.asInstanceOf[java.lang.Long]),
      (4L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "grp")
    TxLog.init(data, path, partitionBy = Seq("grp"))
    val snap = TxLog.snapshot(path)
    // the NULL partition recorded as None
    snap.files.exists(f => snap.stats(f).parts.head.isEmpty) shouldBe true
    // equality predicate never touches the NULL partition (SQL UNKNOWN)
    TxLog.deletePartitions(spark, path, col("grp") === 0L, 0L)
    TxLog.read(spark, path).select("id").as[Long].collect().sorted shouldBe
      Array(2L, 3L, 4L)
    // isNull deletes exactly the NULL partition
    TxLog.deletePartitions(spark, path, col("grp").isNull, 1L)
    TxLog.read(spark, path).select("id").as[Long].collect() shouldBe
      Array(2L)
  }

  test("date-typed partition column: canonical rendering round-trips") {
    val path = freshPath()
    val data = (0 until 60).map(i =>
      (i.toLong, java.sql.Date.valueOf(s"2024-01-${i % 3 + 1}")))
      .toDF("id", "d")
    TxLog.init(data.repartition(2), path, partitionBy = Seq("d"))
    val cut = java.sql.Date.valueOf("2024-01-02")
    val pruned = TxLog.readPartitions(spark, path, col("d") === lit(cut))
    pruned.count() shouldBe 20L
    TxLog.deletePartitions(spark, path, col("d") < lit(cut), 0L)
    TxLog.read(spark, path).agg(min("d")).head().getDate(0) shouldBe cut
  }

  test("replaceWherePartitions: out-of-predicate rows refused; backfill is idempotent") {
    val path = freshPath()
    TxLog.init(rows(0 until 300).repartition(3), path,
      partitionBy = Seq("grp"))
    // replacement data leaking outside the predicate → named refusal,
    // nothing published
    val leak = rows(300 until 320) // grps 0..4, predicate covers only 2
    val e = intercept[IllegalArgumentException] {
      TxLog.replaceWherePartitions(spark, path, col("grp") === 2L, leak, 0L)
    }
    e.getMessage should include("OUTSIDE the predicate")
    TxLog.currentVersion(path) shouldBe Some(0L)
    // clean backfill of partition 2 with recomputed rows
    val fresh = rows(1000 until 1040).filter(col("grp") === 2L)
      .withColumn("payload", concat(lit("re-"), col("payload")))
    TxLog.replaceWherePartitions(spark, path, col("grp") === 2L, fresh, 0L)
    val expect = rows(0 until 300).filter(col("grp") =!= 2L)
      .unionAll(fresh)
    TxLog.read(spark, path).exceptAll(expect).count() shouldBe 0L
    expect.exceptAll(TxLog.read(spark, path)).count() shouldBe 0L
    // idempotent: running the SAME backfill again yields the same table
    TxLog.replaceWherePartitions(spark, path, col("grp") === 2L, fresh, 1L)
    TxLog.read(spark, path).exceptAll(expect).count() shouldBe 0L
    expect.exceptAll(TxLog.read(spark, path)).count() shouldBe 0L
  }

  test("named refusals: data-column predicate, unpartitioned table, missing partition column") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path, partitionBy = Seq("grp"))
    val e1 = intercept[IllegalArgumentException] {
      TxLog.deletePartitions(spark, path, col("id") === 1L, 0L)
    }
    e1.getMessage should include("only the partition columns")
    // appending without the partition column cannot be partition-aligned
    val e2 = intercept[IllegalArgumentException] {
      TxLog.append(Seq((1L, "x")).toDF("id", "payload"), path, 0L)
    }
    e2.getMessage should include("missing partition column")
    val plain = freshPath()
    TxLog.init(rows(0 until 50), plain)
    val e3 = intercept[IllegalArgumentException] {
      TxLog.deletePartitions(spark, plain, col("grp") === 1L, 0L)
    }
    e3.getMessage should include("not a partitioned table")
    // partition column type must be partitionable
    val e4 = intercept[IllegalArgumentException] {
      TxLog.init(Seq((1L, 0.5)).toDF("id", "w"), freshPath(),
        partitionBy = Seq("w"))
    }
    e4.getMessage should include("unsupported type")
  }

  test("partition metadata survives vacuum (checkpoint carries partCols + values)") {
    val path = freshPath()
    TxLog.init(rows(0 until 200).repartition(2), path,
      partitionBy = Seq("grp"))
    (1 to 4).foreach(v =>
      TxLog.append(rows(200 * v until 200 * v + 50), path, v - 1L))
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    // resolution now starts from the vacuum checkpoint, not version 0:
    // partition ops must still see the declaration and every file's tuple
    val snap = TxLog.snapshot(path)
    snap.partitionCols shouldBe Seq("grp")
    snap.files.foreach(f => snap.stats(f).parts.size shouldBe 1)
    TxLog.deletePartitions(spark, path, col("grp") === 0L, snap.version)
    TxLog.read(spark, path).filter(col("grp") === 0L).count() shouldBe 0L
  }

  test("compaction keeps partition purity and partition ops keep working") {
    val path = freshPath()
    TxLog.init(rows(0 until 300).repartition(6), path,
      partitionBy = Seq("grp"))
    TxLog.append(rows(300 until 400).repartition(4), path, 0L)
    val s = TxLog.compact(spark, path, 1L)
    s.files.size should be < TxLog.snapshot(path, Some(1L)).files.size
    val perFile = TxLog.read(spark, path)
      .groupBy(input_file_name().as("f"))
      .agg(countDistinct(col("grp")).as("n")).collect()
    perFile.foreach(_.getAs[Long]("n") shouldBe 1L)
    TxLog.deletePartitions(spark, path, col("grp") === 4L, s.version)
    TxLog.read(spark, path).filter(col("grp") === 4L).count() shouldBe 0L
    TxLog.read(spark, path).count() shouldBe
      rows(0 until 400).filter(col("grp") =!= 4L).count()
  }

  test("cloneTable: snapshot-exact, independent of the source's later life") {
    val src = freshPath()
    TxLog.init(rows(0 until 200).repartition(2), src,
      partitionBy = Seq("grp"))
    TxLog.addConstraint(spark, src, "id_nonneg", "id >= 0", 0L)
    TxLog.appendIfNew(rows(200 until 260), src, appId = "app1",
      batchId = 7L, expectedVersion = 1L)
    TxLog.deleteWhereDV(spark, src, col("id") % 10L === 0L, 2L)
    val atClone = TxLog.read(spark, src).collect().toSeq

    val dst = freshPath()
    val cs = TxLog.cloneTable(src, dst)
    cs.version shouldBe 0L
    cs.partitionCols shouldBe Seq("grp")
    // exact content, DVs applied through the clone's own log
    TxLog.read(spark, dst).collect().toSeq should
      contain theSameElementsAs atClone
    // constraints cloned and ENFORCED on the clone
    intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq((-1L, "bad", 0L)).toDF("id", "payload", "grp"),
        dst, 0L)
    }
    // txn watermarks NOT cloned: a pipeline pointed at the clone must not
    // silently skip its first batches
    cs.txns shouldBe empty
    // source life after the clone: overwrite + vacuum unlinks every
    // pre-clone file from the SOURCE dir — the clone still reads
    TxLog.overwrite(rows(0 until 10), src, 3L)
    TxLog.vacuum(src, retainVersions = 1, minAgeMs = 0L)
    TxLog.read(spark, dst).collect().toSeq should
      contain theSameElementsAs atClone
    // and the clone's own commits don't touch the source
    TxLog.deletePartitions(spark, dst, col("grp") === 1L, 0L)
    TxLog.read(spark, src).count() shouldBe 10L
  }

  test("cloneTable: time-travel clone and already-exists refusal") {
    val src = freshPath()
    TxLog.init(rows(0 until 100), src)
    TxLog.append(rows(100 until 150), src, 0L)
    val dst = freshPath()
    TxLog.cloneTable(src, dst, asOf = Some(0L))
    TxLog.read(spark, dst).count() shouldBe 100L
    val e = intercept[IllegalArgumentException] {
      TxLog.cloneTable(src, dst)
    }
    e.getMessage should include("already exists")
  }

  test("batch writer: partitionBy option creates a partitioned table; mismatch refused") {
    val path = freshPath()
    rows(0 until 100).write.format("graft-txlog")
      .option("path", path).option("partitionBy", "grp").save()
    TxLog.snapshot(path).partitionCols shouldBe Seq("grp")
    // matching option on append: fine
    rows(100 until 150).write.format("graft-txlog").mode("append")
      .option("path", path).option("partitionBy", "grp").save()
    TxLog.read(spark, path).count() shouldBe 150L
    // mismatching option: refused loudly
    val e = intercept[IllegalArgumentException] {
      rows(150 until 160).write.format("graft-txlog").mode("append")
        .option("path", path).option("partitionBy", "id").save()
    }
    e.getMessage should include("immutable")
  }

  test("batch writer: txnAppId/txnVersion make re-runs no-ops (Delta's idempotent-write options)") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path)
    def write(b: Long, r: Range): Unit =
      rows(r).write.format("graft-txlog").mode("append")
        .option("path", path)
        .option("txnAppId", "etl1").option("txnVersion", b.toString).save()
    write(1L, 50 until 100)
    write(1L, 50 until 100) // orchestrator retry: same token, no-op
    TxLog.read(spark, path).count() shouldBe 100L
    write(2L, 100 until 120) // next batch applies
    TxLog.read(spark, path).count() shouldBe 120L
    // stale token after progress: no-op too (at-or-below watermark)
    write(1L, 999 until 1099)
    TxLog.read(spark, path).count() shouldBe 120L
    // one option without the other: refused
    val e = intercept[IllegalArgumentException] {
      rows(0 until 5).write.format("graft-txlog").mode("append")
        .option("path", path).option("txnAppId", "etl1").save()
    }
    e.getMessage should include("together")
    // overwrite with a txn token: contradiction, refused
    val e2 = intercept[IllegalArgumentException] {
      rows(0 until 5).write.format("graft-txlog").mode("overwrite")
        .option("path", path)
        .option("txnAppId", "etl1").option("txnVersion", "9").save()
    }
    e2.getMessage should include("Append-only")
  }

  test("property fuzz: random partition-op histories match a driver-side model") {
    // random interleavings of append / deletePartitions /
    // replaceWherePartitions / row-level deleteWhere / compact over a
    // NULLABLE partition column, checked against a driver-side multiset
    // model after every op — the randomized form of the directed specs
    // above (partition-alignment bugs love specific interleavings, e.g.
    // a replace racing a compact's re-split)
    type R = (Long, String, java.lang.Long) // (id, payload, nullable grp)
    val rSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.LongType, nullable = true)))
    def df(rs: Seq[R]) = {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rs.foreach(r => rows.add(org.apache.spark.sql.Row(r._1, r._2, r._3)))
      spark.createDataFrame(rows, rSchema)
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 7919L)
      val path = freshPath()
      var nextId = 0L
      def fresh(n: Int, grpOf: Long => java.lang.Long): Seq[R] =
        (0 until n).map { _ =>
          val id = nextId; nextId += 1
          (id, s"p$id", grpOf(id))
        }
      def someGrp(id: Long): java.lang.Long =
        if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(id % 4)
      var model = fresh(60, someGrp)
      TxLog.init(df(model).repartition(3), path, partitionBy = Seq("grp"))
      var v = 0L
      for (_ <- 1 to 8) {
        rnd.nextInt(7) match {
          case 0 => // append
            val add = fresh(20 + rnd.nextInt(20), someGrp)
            TxLog.append(df(add).repartition(1 + rnd.nextInt(3)), path, v)
            model = model ++ add
          case 1 => // partition delete (sometimes targeting NULL)
            val tgt = rnd.nextInt(5)
            val cond = if (tgt == 4) col("grp").isNull
                       else col("grp") === tgt.toLong
            TxLog.deletePartitions(spark, path, cond, v)
            model = model.filterNot(r =>
              if (tgt == 4) r._3 == null
              else r._3 != null && r._3.longValue() == tgt.toLong)
          case 2 => // partition backfill
            val g = rnd.nextInt(4).toLong
            val repl = fresh(10 + rnd.nextInt(10), _ => g)
            TxLog.replaceWherePartitions(spark, path,
              col("grp") === g, df(repl), v)
            model = model.filterNot(r =>
              r._3 != null && r._3.longValue() == g) ++ repl
          case 3 => // row-level delete (rewrites must stay aligned)
            val k = 2 + rnd.nextInt(4)
            TxLog.deleteWhere(spark, path, col("id") % k === 0L, v)
            model = model.filterNot(_._1 % k == 0L)
          case 4 =>
            TxLog.compact(spark, path, v)
          case 5 => // zero-copy clone mid-history: snapshot-exact
            val dst = freshPath()
            TxLog.cloneTable(path, dst)
            val cloned = TxLog.read(spark, dst)
              .select("id", "payload", "grp").collect()
              .map(r => (r.getLong(0), r.getString(1),
                if (r.isNullAt(2)) null
                else java.lang.Long.valueOf(r.getLong(2))))
            withClue(s"clone at v=$v: ") {
              cloned.toSeq should contain theSameElementsAs model
            }
          case 6 => // metadata-only ADD COLUMN interleaved with partition
            // ops: later narrower appends stay legal, reads null-fill,
            // partition machinery unaffected
            TxLog.addColumn(spark, path, s"extra_$v",
              org.apache.spark.sql.types.LongType, v)
        }
        v = TxLog.currentVersion(path).get
        val got = TxLog.read(spark, path)
          .select("id", "payload", "grp").collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
        withClue(s"seed=$seed v=$v: ") {
          got.toSeq should contain theSameElementsAs model
        }
      }
      // end-state invariants: every file pure + covered
      val snap = TxLog.snapshot(path)
      snap.files.foreach(f => snap.stats(f).parts.size shouldBe 1)
      if (snap.files.nonEmpty) {
        val perFile = TxLog.read(spark, path)
          .groupBy(input_file_name().as("f"))
          .agg(countDistinct(col("grp")).as("n")).collect()
        perFile.foreach(_.getAs[Long]("n") should be <= 1L)
      }
    }
  }

  test("addColumn: metadata-only widen, null-fill on every read path, refusals, rewrite safety") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(2), path,
      partitionBy = Seq("grp"))
    TxLog.addColumn(spark, path, "score",
      org.apache.spark.sql.types.LongType, 0L) // v1: metadata only
    // every pre-declaration row reads a typed NULL; time travel below
    // the declaration has no column at all
    val r = TxLog.read(spark, path)
    r.columns should contain("score")
    r.filter(col("score").isNotNull).count() shouldBe 0L
    (TxLog.read(spark, path, asOf = Some(0L)).columns should not)
      .contain("score")
    // partition-pruned reads align too
    TxLog.readPartitions(spark, path, col("grp") === 1L)
      .columns should contain("score")
    // duplicate refusal
    val e = intercept[IllegalArgumentException] {
      TxLog.addColumn(spark, path, "grp",
        org.apache.spark.sql.types.LongType, 1L)
    }
    e.getMessage should include("already exists")
    // a later append materializes it; old rows stay NULL
    TxLog.append(rows(100 until 150).withColumn("score", col("id") * 2),
      path, 1L) // v2
    TxLog.read(spark, path).filter(col("score").isNotNull)
      .count() shouldBe 50L
    // a row-level delete's survivor rewrite (files WITHOUT the column)
    // must not lose the column from subsequent reads
    TxLog.deleteWhere(spark, path, col("id") % 10 === 0L, 2L) // v3
    val after = TxLog.read(spark, path)
    after.columns should contain("score")
    after.count() shouldBe rows(0 until 150)
      .filter(col("id") % 10 =!= 0L).count()
    // constraints may reference it (UNKNOWN passes on NULL rows)
    TxLog.addConstraint(spark, path, "score_nonneg", "score >= 0", 3L)
    intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq((999L, "x", 0L))
        .toDF("id", "payload", "grp").withColumn("score", lit(-1L)),
        path, 4L)
    }
    // schema survives vacuum's checkpoint
    TxLog.vacuum(path, retainVersions = 1, minAgeMs = 0L)
    TxLog.read(spark, path).columns should contain("score")
  }

  test("readPruned and readPartitions serve the recorded schema after addColumn + a widening append") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).withColumn("n", col("id").cast("int"))
      .repartition(2), path, partitionBy = Seq("grp"))
    TxLog.addColumn(spark, path, "score",
      org.apache.spark.sql.types.LongType, 0L) // v1: metadata only
    TxLog.append(rows(100 until 150).withColumn("n", col("id") * 1000000000L)
      .withColumn("score", col("id") * 2), path, 1L) // v2: n int -> long
    def same(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      got.schema shouldBe want.schema
      got.exceptAll(want).count() shouldBe 0L
      want.exceptAll(got).count() shouldBe 0L
    }
    val inRange = col("id").between(90L, 120L)
    same(TxLog.readPruned(spark, path, "id", 90L, 120L).filter(inRange),
      TxLog.read(spark, path).filter(inRange))
    same(TxLog.readPartitions(spark, path, col("grp") === 1L),
      TxLog.read(spark, path).filter(col("grp") === 1L))
  }

  test("multi-column partitioning: tuple split + string values with empty string") {
    val path = freshPath()
    val data = Seq(
      (1L, 0L, "us"), (2L, 0L, "eu"), (3L, 1L, "us"), (4L, 1L, ""),
      (5L, 1L, "us"))
      .toDF("id", "g", "region")
    TxLog.init(data, path, partitionBy = Seq("g", "region"))
    val snap = TxLog.snapshot(path)
    snap.files.foreach(f => snap.stats(f).parts.size shouldBe 2)
    // empty-string partition value is NOT the NULL partition
    val (m, _) = TxLog.prunedFilesByPartition(spark, path,
      col("region") === "")
    m should not be empty
    TxLog.readPartitions(spark, path,
      col("g") === 1L && col("region") === "us")
      .select("id").as[Long].collect().sorted shouldBe Array(3L, 5L)
    TxLog.deletePartitions(spark, path, col("region") === "", 0L)
    TxLog.read(spark, path).count() shouldBe 4L
  }

  test("versionPartitionView: removes classify from the record ALONE " +
      "(oldest-retained version after vacuum, v-1 history gone)") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp"))   // v0
    TxLog.append(rows(100 until 150), path, 0L)                     // v1
    TxLog.deletePartitions(spark, path, col("grp") === 0L, 1L)      // v2
    TxLog.append(rows(150 until 180), path, 2L)                     // v3
    // retain {2, 3}: v2 becomes the oldest retained version — its
    // pre-version snapshot (v1) is unresolvable, the exact case the
    // round-13 doc claimed worked and did not (ADVICE medium)
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    intercept[Exception] { TxLog.resolve(path, 1L) }
    // foreign filter: the grp=0 delete is invisible — adds Nil, no touch
    val (adds1, touch1) = TxLog.versionPartitionView(spark, path, 2L,
      col("grp") === 1L)
    adds1 shouldBe empty
    touch1 shouldBe false
    // matching filter: the delete touches the view
    val (_, touch0) = TxLog.versionPartitionView(spark, path, 2L,
      col("grp") === 0L)
    touch0 shouldBe true
  }

  test("versionPartitionView: a remove without removeParts fails NAMED") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp"))   // v0
    TxLog.append(rows(100 until 150), path, 0L)                     // v1
    TxLog.deletePartitions(spark, path, col("grp") === 0L, 1L)      // v2
    // every partitioned remove records its tuple; strip the key and the
    // remove is unclassifiable from the record — refused, never guessed
    // from the pre-version snapshot
    val vf = new java.io.File(path, f"_graft_txlog/${2L}%020d.json")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val rec = json.readTree(vf)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    rec.has("removeParts") shouldBe true
    rec.remove("removeParts")
    json.writeValue(vf, rec)
    val e = intercept[IllegalStateException] {
      TxLog.versionPartitionView(spark, path, 2L, col("grp") === 1L)
    }
    e.getMessage should include("carries no recorded partition values")
  }

  test("versionPartitionView: a RESTORE version (removes + DV clears in " +
      "one record) classifies every file exactly once") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp"))   // v0
    TxLog.deleteWhereDV(spark, path, col("id") % 10 === 3, 0L)      // v1
    TxLog.append(rows(100 until 130), path, 1L)                     // v2
    TxLog.restore(path, 0L, 2L)                                     // v3
    // the restore removes v2's adds and clears v1's vectors; both
    // classes carry recorded tuples — no misleading
    // 'carries no recorded partition values' failure (ADVICE low)
    val (adds, touch) = TxLog.versionPartitionView(spark, path, 3L,
      col("grp") === 2L)
    adds shouldBe empty // restore re-adds nothing new here
    touch shouldBe true // v2's grp=2 rows leave; v1's cleared DVs resurrect
  }

  test("logical conflict detection: disjoint replaceWherePartitions " +
      "reconciles; overlapping adds / constraint changes re-raise") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp")) // v0
    // interleave an append that touches ONLY grp=2, then backfill grp=1
    // from a STALE version token: every interleaved action is outside the
    // backfill's partitions -> reconciles, no error, no re-run
    TxLog.append(rows(200 until 210).filter(col("grp") === 2L), path, 0L) // v1
    val before = TxLog.reconciledCommits.get()
    val g1 = rows(300 until 340).filter(col("grp") === 1L)
    val snap = TxLog.replaceWherePartitions(spark, path, col("grp") === 1L,
      g1, expectedVersion = 0L) // stale: v1 interleaved
    snap.version shouldBe 2L
    TxLog.reconciledCommits.get() shouldBe before + 1
    TxLog.read(spark, path).filter(col("grp") === 1L)
      .select("id").as[Long].collect().sorted shouldBe
      (300 until 340).filter(_ % 5 == 1).map(_.toLong).toArray
    TxLog.read(spark, path).filter(col("grp") === 2L).count() shouldBe
      (20L + 2L) // original grp=2 plus the interleaved append's
    // interleaved append INTO our partitions -> our remove set is stale,
    // a real conflict: named error, nothing published
    TxLog.append(rows(400 until 410).filter(col("grp") === 1L), path, 2L) // v3
    intercept[TxLog.ConflictException] {
      TxLog.replaceWherePartitions(spark, path, col("grp") === 1L,
        rows(500 until 510).filter(col("grp") === 1L), expectedVersion = 2L)
    }
    // interleaved ADD CONSTRAINT -> a stale APPEND must re-run (its rows
    // were validated against the old constraint set), not reconcile
    // (the refused replace above published nothing — still v3)
    TxLog.addConstraint(spark, path, "id_pos", "id >= 0", 3L) // v4
    intercept[TxLog.ConflictException] {
      TxLog.append(rows(600 until 605), path, expectedVersion = 3L)
    }
  }

  test("two concurrent DISJOINT replaceWherePartitions backfills both " +
      "land without either re-running its write") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp"))
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def backfill(g: Long, idBase: Int): Thread = new Thread(() => {
      try {
        TxLog.commitWithRetry(path) { v =>
          attempts.incrementAndGet()
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          TxLog.replaceWherePartitions(spark, path, col("grp") === g,
            rows(idBase until idBase + 40).filter(col("grp") === g), v)
        }
      } catch { case t: Throwable => errs.add(t); () }
    })
    val ts = Seq(backfill(0L, 1000), backfill(1L, 2000))
    ts.foreach(_.start()); ts.foreach(_.join())
    errs.toArray shouldBe empty
    // the barrier forces both attempts to read the SAME base version, so
    // one MUST lose the publish race — and reconcile instead of re-running
    attempts.get() shouldBe 2
    TxLog.currentVersion(path).get shouldBe 2L
    TxLog.read(spark, path).filter(col("grp") === 0L)
      .select("id").as[Long].collect().sorted shouldBe
      (1000 until 1040).filter(_ % 5 == 0).map(_.toLong).toArray
    TxLog.read(spark, path).filter(col("grp") === 1L)
      .select("id").as[Long].collect().sorted shouldBe
      (2000 until 2040).filter(_ % 5 == 1).map(_.toLong).toArray
    TxLog.read(spark, path).filter(col("grp") >= 2L).count() shouldBe 60L
  }

  test("two concurrent OVERLAPPING replaceWherePartitions: one reconciling " +
      "is refused (named conflict), retry serializes to a clean last-wins") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def backfill(idBase: Int): Thread = new Thread(() => {
      try {
        // maxRetries = 0: a real logical conflict must surface as the
        // NAMED error, not silently reconcile
        TxLog.commitWithRetry(path, maxRetries = 0) { v =>
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          TxLog.replaceWherePartitions(spark, path, col("grp") === 1L,
            rows(idBase until idBase + 40).filter(col("grp") === 1L), v)
        }
      } catch {
        case _: TxLog.ConflictException => conflicts.incrementAndGet(); ()
        case t: Throwable => errs.add(t); ()
      }
    })
    val ts = Seq(backfill(1000), backfill(2000))
    ts.foreach(_.start()); ts.foreach(_.join())
    errs.toArray shouldBe empty
    conflicts.get() shouldBe 1 // exactly the loser; never both, never zero
    // the winner's backfill is intact — a reconciling loser would have
    // double-removed or interleaved rows
    val got = TxLog.read(spark, path).filter(col("grp") === 1L)
      .select("id").as[Long].collect().sorted
    val a = (1000 until 1040).filter(_ % 5 == 1).map(_.toLong).toArray
    val b = (2000 until 2040).filter(_ % 5 == 1).map(_.toLong).toArray
    (got.sameElements(a) || got.sameElements(b)) shouldBe true
  }

  test("replaceWherePartitions evaluates newData ONCE (persisted across " +
      "leak check and write)") {
    val path = freshPath()
    TxLog.init(rows(0 until 100), path, partitionBy = Seq("grp"))
    val acc = sc.longAccumulator("rw_evals")
    val src = rows(200 until 260).filter(col("grp") === 1L)
    val n = src.count()
    val counted = src.as[(Long, String, Long)]
      .map { r => acc.add(1L); r }.toDF("id", "payload", "grp")
    acc.reset()
    TxLog.replaceWherePartitions(spark, path, col("grp") === 1L, counted, 0L)
    // pre-fix: the leak-check agg AND writeDataFiles each evaluated the
    // frame (2n) — a non-deterministic source could pass the check yet
    // write rows outside the predicate
    acc.value shouldBe n
    TxLog.read(spark, path).filter(col("grp") === 1L)
      .select("id").as[Long].collect().sorted shouldBe
      (200 until 260).filter(_ % 5 == 1).map(_.toLong).toArray
  }
}
