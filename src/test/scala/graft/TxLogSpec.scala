package graft

import graft.gold.TxLog
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The commit log's ACID contract: atomic visibility (readers see only
  * committed versions; orphan data files are invisible), optimistic
  * concurrency (racing writers — one wins, one raises), snapshot
  * isolation / time travel (old versions immutable), and file-level
  * DELETE (only touched files rewritten).
  */
class TxLogSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txlog").toString + "/t"

  private def rows(r: Range): org.apache.spark.sql.DataFrame =
    r.map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "payload", "grp")

  test("init + append + time travel: versions are immutable snapshots") {
    val path = freshPath()
    val s0 = TxLog.init(rows(0 until 100).repartition(4), path)
    s0.version shouldBe 0L
    TxLog.read(spark, path).count() shouldBe 100L

    val s1 = TxLog.append(rows(100 until 150), path, expectedVersion = 0L)
    s1.version shouldBe 1L
    TxLog.read(spark, path).count() shouldBe 150L
    // time travel: version 0 still serves exactly the original rows
    TxLog.read(spark, path, asOf = Some(0L))
      .agg(sum("id")).as[Long].head() shouldBe (0L until 100L).sum
  }

  test("deleteWhere rewrites only touched files; untouched carry by reference") {
    val path = freshPath()
    // range-clustered: grp-correlated ids so some files have no matches
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), path)
    val before = TxLog.snapshot(path)
    val s1 = TxLog.deleteWhere(spark, path, col("id") < 100L, 0L)
    TxLog.read(spark, path).count() shouldBe 300L
    TxLog.read(spark, path).agg(min("id")).as[Long].head() shouldBe 100L
    // files covering id >= 100 must be the SAME file objects (by name)
    val untouchedKept = before.files.toSet.intersect(s1.files.toSet)
    untouchedKept should not be empty
    // deleted version still time-travels
    TxLog.read(spark, path, asOf = Some(0L)).count() shouldBe 400L
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics) in rewritten files") {
    val path = freshPath()
    // one file holding a true match AND a NULL-evaluating row, one file
    // holding only a NULL-evaluating row (untouched carry-over)
    val data = Seq(
      (1L, java.lang.Long.valueOf(10L)),
      (2L, null.asInstanceOf[java.lang.Long]),
      (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "x").repartitionByRange(2, col("id"))
    TxLog.init(data, path)
    TxLog.deleteWhere(spark, path, col("x") > 5L, 0L)
    // only row 1 matched; rows 2 and 3 (x IS NULL → predicate NULL) stay
    TxLog.read(spark, path).select("id").as[Long].collect().sorted shouldBe
      Array(2L, 3L)
  }

  test("optimistic concurrency: a stale APPEND reconciles (append vs append " +
      "never conflicts); a stale remove-bearing commit still raises") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    TxLog.append(rows(10 until 20), path, expectedVersion = 0L)
    // Delta conflict-checker semantics (round-14): the staged files are
    // fresh names no interleaved commit references, so losing the version
    // race costs a metadata re-publish, not a re-run or an error
    val before = TxLog.reconciledCommits.get()
    val snap = TxLog.append(rows(20 until 30), path, expectedVersion = 0L)
    snap.version shouldBe 2L
    TxLog.reconciledCommits.get() shouldBe before + 1
    TxLog.read(spark, path).count() shouldBe 30L
    // remove-bearing commits keep the CAS contract: a stale deleteWhere
    // could double-remove files — raises, caller re-derives
    val e = intercept[TxLog.ConflictException] {
      TxLog.deleteWhere(spark, path, col("id") < 5L, expectedVersion = 1L)
    }
    e.getMessage should include("another writer")
    TxLog.read(spark, path).count() shouldBe 30L
  }

  test("a crash between data write and publish leaves the table unchanged") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path)
    // simulate the crash: drop uncommitted data files into the table dir
    rows(50 until 60).write.mode("overwrite")
      .parquet(path + "_stage")
    new java.io.File(path + "_stage").listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(path, "orphan-" + f.getName).toPath)
      }
    // readers resolve the LOG's file list, not the directory listing
    TxLog.read(spark, path).count() shouldBe 50L
  }

  test("vacuum drops orphans and below-horizon files; retained versions still read") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(2), path)
    TxLog.append(rows(100 until 120), path, 0L)
    TxLog.deleteWhere(spark, path, col("id") < 50L, 1L) // v2 rewrites files
    // a losing writer's orphan — and a FRESH uncommitted file that the
    // default age horizon would protect
    rows(900 until 910).write.mode("overwrite").parquet(path + "_stage")
    new java.io.File(path + "_stage").listFiles()
      .filter(_.getName.startsWith("part-")).take(1).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(path, "part-orphan.parquet").toPath)
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(path, "part-inflight.parquet").toPath)
      }
    // default horizon: the fresh in-flight file SURVIVES a vacuum
    TxLog.vacuum(path, retainVersions = 3)
      .exists(_.contains("inflight")) shouldBe false
    // minAgeMs=0: this test IS the no-writer-in-flight case; the default
    // 24h horizon exists to protect racing writers' uncommitted files
    val dropped = TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    dropped should not be empty
    dropped.exists(_.contains("orphan")) shouldBe true
    // retained versions (1, 2) still read exactly
    TxLog.read(spark, path, asOf = Some(1L)).count() shouldBe 120L
    TxLog.read(spark, path).count() shouldBe 70L
    // below the horizon: version 0 is gone
    intercept[Exception](TxLog.read(spark, path, asOf = Some(0L)))
    ()
  }

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

  test("touched-file discovery is one distributed probe, not a per-file job loop") {
    // the old per-file probe launched >= #files sequential jobs; the
    // distributed input_file_name() probe is O(1) jobs in the file count
    // (a small constant — probe + survivor write + publish). Proven as a
    // CURVE: the job count must not grow with the file count.
    val counts = Seq(8, 40, 120).map { nFiles =>
      val path = freshPath()
      TxLog.init(rows(0 until nFiles * 100).repartition(nFiles), path)
      TxLog.snapshot(path).files.size should be >= nFiles
      val deleteJobs = countJobs {
        TxLog.deleteWhere(spark, path, col("id") < 100L, 0L); ()
      }
      TxLog.read(spark, path).count() shouldBe (nFiles * 100L - 100L)
      val replaceJobs = countJobs {
        TxLog.replaceWhereKeys(spark, path,
          rows(200 until 210).select("id"), Seq("id"),
          rows(200 until 210), expectedVersion = 1L); ()
      }
      TxLog.read(spark, path).count() shouldBe (nFiles * 100L - 100L)
      withClue(s"nFiles=$nFiles: ") {
        // constants recalibrated when log-native stats landed: each
        // writeDataFiles adds ONE flat stats-collection job (delete +1,
        // replace +2) and replace adds the key-bounds job — all flat in
        // the file count, which is what the curve below pins
        deleteJobs should be < 17
        replaceJobs should be < 20
      }
      (nFiles, deleteJobs, replaceJobs)
    }
    info("probe job counts (files, deleteJobs, replaceJobs): " +
      counts.mkString(", "))
    // flat curve: 15x the files must not even double the job count
    val deleteCurve = counts.map(_._2)
    deleteCurve.max should be <= (deleteCurve.min * 2)
  }

  test("stats-index pre-pruning: correct with a fresh AND a stale _graft_stats dir") {
    val path = freshPath()
    // range-clustered so per-file id ranges are disjoint and the index can
    // prove most files untouched
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), path)
    graft.gold.StatsIndex.write(spark, path, Seq("id"))
    val before = TxLog.snapshot(path)
    val s1 = TxLog.replaceWhereKeys(spark, path,
      rows(0 until 20).select("id"), Seq("id"),
      rows(0 until 20).withColumn("payload", lit("NEW")),
      expectedVersion = 0L)
    // untouched files carried by reference (pruning did not force rewrites)
    before.files.toSet.intersect(s1.files.toSet) should not be empty
    val st = TxLog.read(spark, path)
    st.count() shouldBe 400L
    st.filter(col("id") < 20L && col("payload") === "NEW").count() shouldBe 20L
    // STALE index: the appended files are unknown to _graft_stats — they
    // must remain candidates (missing-from-stats files are never pruned)
    TxLog.append(rows(1000 until 1020), path, expectedVersion = 1L)
    TxLog.replaceWhereKeys(spark, path,
      rows(1000 until 1010).select("id"), Seq("id"),
      rows(1000 until 1010).withColumn("payload", lit("NEW2")),
      expectedVersion = 2L)
    val st2 = TxLog.read(spark, path)
    st2.filter(col("payload") === "NEW2").count() shouldBe 10L
    st2.count() shouldBe 420L
    // the sidecar never replaces the log's own file index
    val filtered = st2.filter(col("id") < 20L).queryExecution.optimizedPlan
    val locations = filtered.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }
    locations should not be empty
    all(locations) shouldBe a[graft.gold.TxLogFileIndex]
    // a plain deleteWhere stays exact with the stale sidecar present
    TxLog.deleteWhere(spark, path, col("id") >= 1000L, 3L)
    TxLog.read(spark, path).count() shouldBe 400L
  }

  test("two interleaved writers with commitWithRetry: no lost updates, conflicts alerted") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    val sink = new graft.runner.Alerts.CollectingSink
    // deterministic interleave first: an interloper commits between the
    // read and the publish — the stale append RECONCILES (round-14:
    // append vs append never conflicts — re-publish, no re-run), with the
    // reconciliation alerted on the append's own sink
    var interloped = false
    TxLog.commitWithRetry(path, alerts = Some(sink)) { v =>
      if (!interloped) {
        interloped = true
        TxLog.append(rows(100 until 110), path, v) // interloper wins v+1
      }
      TxLog.append(rows(200 until 210), path, v, alerts = Some(sink))
    }
    sink.alerts.map(_.severity) should contain("txlog_conflict_reconciled")
    TxLog.read(spark, path).count() shouldBe 30L // both appends landed
    // now genuinely concurrent writers: every batch must survive
    val base = TxLog.currentVersion(path).get
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until 5).foreach { i =>
          TxLog.commitWithRetry(path, maxRetries = 20) { v =>
            TxLog.append(rows(10000 + w * 1000 + i * 100 until
              10000 + w * 1000 + i * 100 + 10), path, v)
          }
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    errs shouldBe empty
    // serializable history: one version per commit, all rows present
    TxLog.currentVersion(path).get shouldBe (base + 10)
    TxLog.read(spark, path).count() shouldBe (30L + 10 * 10)
  }

  test("checkpoint hint bounds discovery and never changes its result") {
    val path = freshPath()
    TxLog.init(rows(0 until 5), path)
    (0 until 12).foreach { i =>
      TxLog.append(rows(100 + i * 10 until 100 + i * 10 + 5), path, i.toLong)
    }
    TxLog.currentVersion(path) shouldBe Some(12L)
    val log = new java.io.File(path, TxLog.LogDirName)
    val ckpt = new java.io.File(log, "_last_checkpoint")
    ckpt.exists() shouldBe true // written at version 10
    // garbage hint -> ignored, listing fallback
    java.nio.file.Files.write(ckpt.toPath, "not a number".getBytes)
    TxLog.currentVersion(path) shouldBe Some(12L)
    // stale-but-valid hint -> forward probe finds the newest dense version
    java.nio.file.Files.write(ckpt.toPath, "3".getBytes)
    TxLog.currentVersion(path) shouldBe Some(12L)
    // missing hint -> listing fallback
    java.nio.file.Files.delete(ckpt.toPath)
    TxLog.currentVersion(path) shouldBe Some(12L)
    // a non-version json in the log dir is ignored, never parsed
    java.nio.file.Files.write(
      new java.io.File(log, "notes.json").toPath, "{}".getBytes)
    TxLog.currentVersion(path) shouldBe Some(12L)
    TxLog.read(spark, path).count() shouldBe (5L + 12 * 5)
    // vacuum refreshes the hint to the newest retained version and the
    // hint pointing below the horizon falls back cleanly
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    new String(java.nio.file.Files.readAllBytes(ckpt.toPath)).trim shouldBe "12"
    java.nio.file.Files.write(ckpt.toPath, "5".getBytes) // vacuumed version
    TxLog.currentVersion(path) shouldBe Some(12L)
    TxLog.read(spark, path, asOf = Some(11L)).count() shouldBe (5L + 11 * 5)
  }

  test("schema evolution through the log: widened appends serve the union schema") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    // append with a NEW column — a legal whole-file commit
    val widened = rows(10 until 20).withColumn("score", col("id") * 2)
    TxLog.append(widened, path, expectedVersion = 0L)
    val cur = TxLog.read(spark, path)
    cur.columns should contain("score")
    cur.count() shouldBe 20L
    // old files' missing column is NULL; new files carry values
    cur.filter(col("score").isNull).count() shouldBe 10L
    cur.agg(sum("score")).as[Long].head() shouldBe (10L until 20L).map(_ * 2).sum
    // time travel below the evolution still serves the ORIGINAL schema
    TxLog.read(spark, path, asOf = Some(0L)).columns should not contain "score"
  }

  test("a torn version file (external corruption) raises a named error, not NoSuchElement") {
    val path = freshPath()
    TxLog.init(rows(0 until 5), path)
    // publish links complete content atomically, so our writers cannot
    // produce this; simulate external corruption of the newest version
    val log = new java.io.File(path, TxLog.LogDirName)
    java.nio.file.Files.write(
      new java.io.File(log, f"${1L}%020d.json").toPath, Array.empty[Byte])
    val e = intercept[IllegalStateException](TxLog.snapshot(path))
    e.getMessage should include("not a valid version record")
  }

  test("delete-all reads as a schema-correct EMPTY table (schema lives in the log)") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    TxLog.deleteWhere(spark, path, lit(true), 0L)
    // an empty table is a legal SQL state: schema from the log, zero rows
    val empty = TxLog.read(spark, path)
    empty.count() shouldBe 0L
    empty.columns.toSeq shouldBe Seq("id", "payload", "grp")
    empty.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    // time travel below the delete still serves the data
    TxLog.read(spark, path, asOf = Some(0L)).count() shouldBe 10L
    // the table stays writable: append on the empty base works
    TxLog.append(rows(50 until 55), path, expectedVersion = 1L)
    TxLog.read(spark, path).count() shouldBe 5L
    // schema evolution is reflected in the recorded schema too: widen,
    // delete all, and the empty read carries the widened column
    TxLog.append(rows(60 until 62).withColumn("extra", lit(1)), path, 2L)
    TxLog.deleteWhere(spark, path, lit(true), 3L)
    TxLog.read(spark, path).columns should contain("extra")
  }

  test("commits are delta-encoded: a late append's record is O(changed files)") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(10), path)
    (0 until 5).foreach { i =>
      TxLog.append(rows(100 + i * 10 until 100 + i * 10 + 10), path, i.toLong)
    }
    val s = TxLog.snapshot(path)
    s.files.size should be >= 15
    // the NEWEST record must reference only its own added files — none of
    // the base table's files (O(changed), not O(table) metadata)
    val log = new java.io.File(path, TxLog.LogDirName)
    val recText = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(log, f"${5L}%020d.json").toPath))
    val baseFiles = TxLog.snapshot(path, Some(4L)).files.toSet
    val mentioned = s.files.filter(f => recText.contains(f))
    mentioned.toSet.intersect(baseFiles) shouldBe empty
    mentioned should not be empty
    // a delete's record carries remove actions, not the untouched list
    val before = TxLog.snapshot(path)
    TxLog.deleteWhere(spark, path, col("id") < 10L, 5L)
    val delText = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(log, f"${6L}%020d.json").toPath))
    val untouchedKept =
      TxLog.snapshot(path).files.toSet.intersect(before.files.toSet)
    untouchedKept should not be empty
    untouchedKept.count(delText.contains) shouldBe 0
  }

  test("checkpoint + tail replay == full action replay across append/delete/replace/vacuum") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartitionByRange(4, col("id")), path)
    // mixed history crossing two checkpoint boundaries (v10, v20)
    (0 until 9).foreach { i =>
      TxLog.append(rows(100 + i * 10 until 100 + i * 10 + 10), path, i.toLong)
    }
    TxLog.deleteWhere(spark, path, col("id") < 20L, 9L) // v10 (checkpointed)
    (0 until 9).foreach { i =>
      TxLog.append(rows(1000 + i * 10 until 1000 + i * 10 + 10), path, 10L + i)
    }
    TxLog.replaceWhereKeys(spark, path, rows(50 until 60).select("id"),
      Seq("id"), rows(50 until 60), expectedVersion = 19L) // v20 (checkpointed)
    TxLog.append(rows(5000 until 5010), path, 20L) // v21 tail past checkpoint
    val cur = TxLog.currentVersion(path).get
    cur shouldBe 21L
    // commit-time checkpoints exist at 0, 10, 20
    (0L to cur).foreach { v =>
      val viaCkpt = TxLog.resolve(path, v, useCheckpoints = true)
      val fullReplay = TxLog.resolve(path, v, useCheckpoints = false)
      withClue(s"version $v: ") {
        viaCkpt.files.sorted shouldBe fullReplay.files.sorted
        viaCkpt.schema shouldBe fullReplay.schema
      }
    }
    val countsBefore =
      (18L to cur).map(v => TxLog.read(spark, path, asOf = Some(v)).count())
    // vacuum drops history below v18; retained versions must still resolve
    // (through the load-bearing checkpoint vacuum writes at the oldest
    // retained version)
    TxLog.vacuum(path, retainVersions = 4, minAgeMs = 0L)
    (18L to cur).zip(countsBefore).foreach { case (v, c) =>
      TxLog.read(spark, path, asOf = Some(v)).count() shouldBe c
    }
    intercept[Exception](TxLog.snapshot(path, Some(17L)))
    ()
  }

  test("a delta record truncated after the add array fails loudly (no silent file resurrection)") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    TxLog.deleteWhere(spark, path, col("id") < 5L, 0L) // v1 carries remove actions
    val log = new java.io.File(path, TxLog.LogDirName)
    val v1 = new java.io.File(log, f"${1L}%020d.json").toPath
    val full = new String(java.nio.file.Files.readAllBytes(v1))
    // cut the record right after the add array closes — exactly what a
    // reader racing a degraded CreateWrite publish can observe. The old
    // one-key-suffices parse read this as remove=Nil, silently
    // resurrecting every file the delete removed.
    val cut = full.substring(0, full.indexOf("\"remove\""))
      .stripSuffix(",")
    java.nio.file.Files.write(v1, cut.getBytes)
    val e = intercept[IllegalStateException](TxLog.snapshot(path))
    e.getMessage should include("not a valid version record")
    // a remove-only fragment is equally invalid
    java.nio.file.Files.write(v1, """{"version":1,"remove":[]}""".getBytes)
    val e2 = intercept[IllegalStateException](TxLog.snapshot(path))
    e2.getMessage should include("not a valid version record")
    // restoring the complete record restores the table
    java.nio.file.Files.write(v1, full.getBytes)
    TxLog.read(spark, path).count() shouldBe 5L
  }

  test("a narrowing column re-declare is rejected before it can be recorded as the schema") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path) // id is LONG
    val narrowed = rows(10 until 20)
      .withColumn("id", col("id").cast("int"))
    val e = intercept[IllegalArgumentException] {
      TxLog.append(narrowed, path, expectedVersion = 0L)
    }
    e.getMessage should include("id")
    e.getMessage should include("same-or-widened")
    // cross-family change rejected too
    intercept[IllegalArgumentException] {
      TxLog.append(rows(10 until 20).withColumn("grp", lit("text")), path, 0L)
    }
    // the table is untouched — the guard fired before any publish
    TxLog.currentVersion(path) shouldBe Some(0L)
    // decimal: same-scale precision WIDENING is legal (Spark's own parquet
    // schema merge accepts it); scale changes are not
    val decPath = freshPath()
    TxLog.init(rows(0 until 5)
      .withColumn("amt", col("id").cast("decimal(10,2)")), decPath)
    TxLog.append(rows(5 until 10)
      .withColumn("amt", col("id").cast("decimal(12,2)")), decPath, 0L)
    intercept[IllegalArgumentException] {
      TxLog.append(rows(10 until 15)
        .withColumn("amt", col("id").cast("decimal(12,3)")), decPath, 1L)
    }
    // same-or-WIDENED re-declares stay legal: int grp -> long grp
    TxLog.append(rows(10 until 20).withColumn("grp", col("grp").cast("long")),
      path, expectedVersion = 0L)
    TxLog.deleteWhere(spark, path, lit(true), 1L)
    // file-less read serves the WIDENED type
    TxLog.read(spark, path).schema("grp").dataType shouldBe
      org.apache.spark.sql.types.LongType
  }

  test("checkpoint fallback property fuzz: corrupt/missing commit-time checkpoints never change answers") {
    val path = freshPath()
    TxLog.init(rows(0 until 80).repartitionByRange(4, col("id")), path)
    (0 until 9).foreach { i =>
      TxLog.append(rows(100 + i * 10 until 100 + i * 10 + 10), path, i.toLong)
    }
    TxLog.deleteWhere(spark, path, col("id") < 20L, 9L) // v10 (checkpointed)
    (0 until 9).foreach { i =>
      TxLog.append(rows(1000 + i * 10 until 1000 + i * 10 + 10), path, 10L + i)
    }
    TxLog.replaceWhereKeys(spark, path, rows(30 until 40).select("id"),
      Seq("id"), rows(30 until 40), expectedVersion = 19L) // v20 (checkpointed)
    TxLog.append(rows(5000 until 5010), path, 20L) // v21
    val cur = TxLog.currentVersion(path).get
    cur shouldBe 21L
    // ground truth from pure action replay, before any mutation
    val baseline = (0L to cur).map(v =>
      v -> TxLog.resolve(path, v, useCheckpoints = false).files.sorted).toMap
    val log = new java.io.File(path, TxLog.LogDirName)
    def ckptFiles() = log.listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).sortBy(_.getName)
    ckptFiles().length should be >= 3 // v0, v10, v20
    val rnd = new scala.util.Random(0xC4EC7L)
    def assertAll(): Unit = (0L to cur).foreach { v =>
      withClue(s"version $v: ") {
        TxLog.resolve(path, v).files.sorted shouldBe baseline(v)
      }
    }
    // cumulative seeded mutations: after EVERY one, every version must
    // resolve to the same file list (commit-time checkpoints are advisory)
    rnd.shuffle(ckptFiles().toSeq).foreach { f =>
      rnd.nextInt(3) match {
        case 0 => // truncate to a random prefix (torn write)
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          java.nio.file.Files.write(f.toPath,
            bytes.take(rnd.nextInt(math.max(1, bytes.length - 1))))
        case 1 => // garbage content
          java.nio.file.Files.write(f.toPath,
            Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte))
        case 2 => // gone entirely
          java.nio.file.Files.delete(f.toPath)
      }
      assertAll()
    }
    // with every commit-time checkpoint destroyed, answers still hold
    assertAll()
    // vacuum writes its LOAD-BEARING checkpoint at the oldest retained
    // version before dropping history; retained versions must read, and
    // reads must fail ONLY below the horizon
    TxLog.vacuum(path, retainVersions = 4, minAgeMs = 0L)
    (18L to cur).foreach { v =>
      TxLog.resolve(path, v).files.sorted shouldBe baseline(v)
    }
    (0L until 18L).foreach { v =>
      intercept[Exception](TxLog.snapshot(path, Some(v)))
    }
    ()
  }

  test("survivor rewrite after a WIDENING append keeps the new column's " +
      "values (single-footer sampling latent bug, round-14 fuzz find)") {
    val path = freshPath()
    TxLog.init(rows(0 until 50).repartition(2), path)          // v0
    TxLog.append(rows(100 until 120)
      .withColumn("extra", col("id") * 2L), path, 0L)          // v1 widens
    // the delete touches BOTH schema generations; the survivor rewrite
    // used to read touched files with mergeSchema=false (one sampled
    // footer) — if it sampled a pre-widening file, every rewritten
    // survivor from the widened files silently LOST its extra values
    TxLog.deleteWhere(spark, path, col("id") % 10 === 5L, 1L)  // v2
    val r = TxLog.read(spark, path)
    r.count() shouldBe (50L - 5L + 20L - 2L)
    r.filter(col("id") >= 100L && col("extra").isNull).count() shouldBe 0L
    r.filter(col("id") >= 100L)
      .agg(sum("extra")).head().getLong(0) shouldBe
      (100 until 120).filter(_ % 10 != 5).map(_ * 2L).sum
    // keyed merge's survivor path has the same contract
    TxLog.replaceWhereKeys(spark, path,
      rows(101 until 103).select("id"), Seq("id"),
      rows(101 until 103).withColumn("extra", lit(-1L)), 2L)   // v3
    TxLog.read(spark, path)
      .filter(col("id") >= 104L && col("id") < 120L &&
        col("extra").isNull).count() shouldBe 0L
  }

  test("parquet checkpoints: commits write the parquet kind, resolution " +
      "equals pure replay, the file rows read distributively") {
    val path = freshPath()
    TxLog.init(rows(0 until 80).repartition(3), path,
      partitionBy = Seq("grp")) // v0, checkpointed
    (0 until 9).foreach { i =>
      TxLog.append(rows(100 + i * 10 until 100 + i * 10 + 10), path, i.toLong)
    }
    TxLog.deleteWhereDV(spark, path, col("id") < 10L, 9L) // v10, checkpointed
    val log = new java.io.File(path, TxLog.LogDirName)
    log.listFiles().map(_.getName) should contain(
      f"${10L}%020d.checkpoint.parquet")
    log.listFiles().map(_.getName).count(_.endsWith(".checkpoint.json")) shouldBe 0
    // checkpoint+tail resolution == pure action replay, ALL state facets
    val viaCkpt = TxLog.resolve(path, 10L)
    val replay = TxLog.resolve(path, 10L, useCheckpoints = false)
    viaCkpt.files.sorted shouldBe replay.files.sorted
    viaCkpt.stats shouldBe replay.stats
    viaCkpt.dvs shouldBe replay.dvs
    viaCkpt.partitionCols shouldBe replay.partitionCols
    viaCkpt.schema shouldBe replay.schema
    // distributive read: the checkpoint's file rows AS A DATAFRAME — no
    // driver collect needed to enumerate a huge table's planning inputs
    val df = TxLog.checkpointFilesDf(spark, path, 10L)
    df.select("file").as[String].collect().sorted shouldBe
      viaCkpt.files.sorted.toArray
    df.agg(sum("rows")).head().getLong(0) shouldBe
      viaCkpt.files.map(f => viaCkpt.stats(f).rows).sum
    df.filter(col("dv").isNotNull).select("file").as[String]
      .collect().toSet shouldBe viaCkpt.dvs.keySet
    // the per-file column stats are JSON strings Spark's own from_json
    // reads: checkpoint stats are consumable without a driver collect
    val colStatsType = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      new org.apache.spark.sql.types.StructType().add("typ", "string")
        .add("nulls", "long").add("min", "long").add("max", "long")
        .add("strMin", "string").add("strMax", "string"))
    val fromJson = df
      .select(col("file"), col("rows"),
        explode(from_json(col("cols"), colStatsType)).as(Seq("c", "s")))
      .select("file", "rows", "c", "s.min", "s.max", "s.strMin", "s.strMax")
      .as[(String, Long, String, Option[Long], Option[Long], Option[String],
        Option[String])].collect().sorted
    fromJson should not be empty
    fromJson.toSeq shouldBe TxLog.resolve(path, 10L).stats.toSeq.flatMap {
      case (f, fs) => fs.cols.map { case (c, cs) =>
        (f, fs.rows, c, cs.min, cs.max, cs.strMin, cs.strMax) }
    }.sorted
    // vacuum's LOAD-BEARING checkpoint is the parquet kind too: history
    // below the horizon gone, retained versions resolve through it
    TxLog.append(rows(2000 until 2010), path, 10L) // v11
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    TxLog.resolve(path, 10L).files.sorted shouldBe replay.files.sorted
    TxLog.read(spark, path, asOf = Some(10L)).count() shouldBe 160L
  }

  test("checkpoint and DV-file reads take their fixed schema: equal to inference, no inference job") {
    val path = freshPath()
    TxLog.init(rows(0 until 80).repartition(3), path) // v0
    (0 until 7).foreach { i =>
      TxLog.append(rows(100 + i * 10 until 110 + i * 10), path, i.toLong)
    } // v1-v7
    TxLog.deleteWhereDV(spark, path, col("id") < 10L, 7L) // v8
    // a second vector on the same files carries the first one's rows over
    TxLog.deleteWhereDV(spark, path, col("id") % 10 === 5L, 8L) // v9
    TxLog.updateWhereDV(spark, path, col("id") === 20L,
      Map("payload" -> lit("u")), 9L) // v10, checkpointed
    val ckpt = new java.io.File(new java.io.File(path, TxLog.LogDirName),
      f"${10L}%020d.checkpoint.parquet").getPath
    val dvs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("dv-")).map(f => s"$path/$f")
    dvs.length should be >= 3
    (Seq(ckpt -> TxLog.CheckpointSparkSchema) ++ dvs.map(_ -> TxLog.DvFileSchema))
      .foreach { case (file, schema) =>
        val given = spark.read.schema(schema).parquet(file).schema
        val inferred = spark.read.parquet(file).schema
        withClue(s"$file\n") {
          given shouldBe inferred
          given.map(_.metadata) shouldBe inferred.map(_.metadata)
        }
      }
    val expected = (0L until 80L) ++ (100L until 170L)
    var read: Array[Long] = null
    var ckptFiles = 0L
    val jobs = jobsStarted {
      read = TxLog.read(spark, path).select("id").as[Long].collect() // DV apply
      ckptFiles = TxLog.checkpointFilesDf(spark, path, 10L).count()
    }
    read.sorted.toSeq shouldBe expected.filterNot(i => i < 10L || i % 10 == 5L)
    ckptFiles shouldBe TxLog.snapshot(path).files.size.toLong
    parquetInferenceSites(jobs) shouldBe empty
  }

  test("racing readers only ever see complete committed states, under both primitives") {
    Seq(TxLog.CommitPrimitive.HardLink, TxLog.CommitPrimitive.CreateWrite)
      .foreach { prim =>
        TxLog.usingPrimitive(prim) {
          withClue(s"primitive $prim: ") {
            val path = freshPath()
            TxLog.init(rows(0 until 10), path)
            @volatile var stop = false
            val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]
            var reads = 0
            val reader = new Thread(() => {
              while (!stop) {
                try {
                  // every committed version v holds EXACTLY 10*(v+1) rows;
                  // any other count means a partially-visible commit
                  val snap = TxLog.snapshot(path)
                  val cnt = TxLog.read(spark, path, Some(snap.version)).count()
                  if (cnt != 10L * (snap.version + 1))
                    errs.add(s"v${snap.version}: saw $cnt rows")
                  reads += 1
                } catch {
                  // under the degraded CreateWrite primitive a reader racing
                  // the writer may catch the torn-content window — the
                  // contract is the LOUD named retry-able error, never a
                  // wrong answer
                  case e: IllegalStateException
                    if e.getMessage.contains("not a valid version record") => ()
                  case scala.util.control.NonFatal(e) => errs.add(e.toString)
                }
              }
            })
            reader.start()
            try (0 until 8).foreach { i =>
              TxLog.append(rows(100 + i * 10 until 100 + i * 10 + 10), path, i.toLong)
            } finally { stop = true; reader.join() }
            errs.toArray shouldBe empty
            reads should be > 0
          }
        }
      }
  }

  test("ACID contract holds under BOTH commit primitives (hard-link and create-write)") {
    Seq(TxLog.CommitPrimitive.HardLink, TxLog.CommitPrimitive.CreateWrite)
      .foreach { prim =>
        TxLog.usingPrimitive(prim) {
          withClue(s"primitive $prim: ") {
            val path = freshPath()
            TxLog.init(rows(0 until 50).repartition(2), path)
            TxLog.append(rows(50 until 70), path, expectedVersion = 0L)
            // stale append reconciles under BOTH primitives (the loser
            // re-publishes its staged files at the new head)
            TxLog.append(rows(70 until 90), path, expectedVersion = 0L)
            TxLog.read(spark, path).count() shouldBe 90L
            // remove-bearing commit on a stale version still raises
            intercept[TxLog.ConflictException] {
              TxLog.deleteWhere(spark, path, col("id") < 10L, 1L)
            }
            TxLog.deleteWhere(spark, path, col("id") < 10L, 2L)
            TxLog.read(spark, path).count() shouldBe 80L
            // time travel intact
            TxLog.read(spark, path, asOf = Some(0L)).count() shouldBe 50L
            // genuinely racing writers: exactly one winner per version
            val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
            val threads = (0 until 2).map { w =>
              new Thread(() => {
                try (0 until 3).foreach { i =>
                  TxLog.commitWithRetry(path, maxRetries = 20) { v =>
                    TxLog.append(rows(1000 + w * 100 + i * 10 until
                      1000 + w * 100 + i * 10 + 5), path, v)
                  }
                } catch { case t: Throwable => errs.add(t); () }
              })
            }
            threads.foreach(_.start()); threads.foreach(_.join())
            errs shouldBe empty
            TxLog.currentVersion(path).get shouldBe 9L
            TxLog.read(spark, path).count() shouldBe (80L + 6 * 5)
          }
        }
      }
  }

  test("change feed across a narrowing RESTORE: removed wide files keep their columns") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)                              // v0
    TxLog.append(rows(10 until 15)
      .withColumn("extra", col("id") * 2L), path, 0L)               // v1 widens
    TxLog.restore(path, 0L, 1L)                                     // v2 narrows
    TxLog.snapshot(path).schema.fieldNames should not contain "extra"
    // each version's files read with their own snapshot's recorded
    // schema: v2's delete rows come from v1's files, read with v1's schema
    val feed = TxLog.changes(spark, path, -1L, 2L)
    val dels = feed.filter(col("_commit_version") === 2L &&
      col("_change_type") === "delete")
    dels.select("id", "extra").as[(Long, Long)].collect().sorted shouldBe
      (10 until 15).map(i => (i.toLong, i * 2L)).toArray
    feed.filter(col("_commit_version") === 1L)
      .agg(sum("extra")).head().getLong(0) shouldBe (10 until 15).map(_ * 2L).sum
    // the restore's feed nets the table back to v0's rows
    TxLog.mirrorFromChanges(spark, path).select("id").as[Long]
      .collect().sorted shouldBe (0L until 10L).toArray
  }

  test("change feed: a mirror folded from changes ALONE equals every version's direct read") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(3), path)
    TxLog.append(rows(100 until 160), path, 0L)
    TxLog.deleteWhere(spark, path, col("id") % 3 === 1L, 1L)
    TxLog.replaceWhereKeys(spark, path, rows(50 until 70).select("id"),
      Seq("id"), newData = rows(200 until 210), expectedVersion = 2L)
    // widening append: the feed must align old versions to the union schema
    TxLog.append(rows(300 until 310).withColumn("extra", col("id") * 2L),
      path, 3L)
    val cur = TxLog.currentVersion(path).get
    (0L to cur).foreach { v =>
      val mirror = TxLog.mirrorFromChanges(spark, path, Some(v))
      val direct = TxLog.read(spark, path, Some(v))
        .unionByName(TxLog.mirrorFromChanges(spark, path, Some(cur))
          .filter(lit(false)), allowMissingColumns = true)
      val alignedDirect = direct.select(mirror.columns.map(col): _*)
      withClue(s"version $v: ") {
        mirror.exceptAll(alignedDirect).count() shouldBe 0L
        alignedDirect.exceptAll(mirror).count() shouldBe 0L
      }
      // the keyed consumer (broadcast anti-join + checkpointed mirror)
      // must equal the multiset reference at every version — this history
      // keeps ids unique per version, the keyed contract's precondition
      val keyed = TxLog.mergeByKeyFromChanges(spark, path, Seq("id"), Some(v))
        .select(mirror.columns.map(col): _*)
      withClue(s"version $v (keyed): ") {
        keyed.exceptAll(mirror).count() shouldBe 0L
        mirror.exceptAll(keyed).count() shouldBe 0L
      }
    }
    // feed shape: the rewrite versions emit BOTH sides
    val feed = TxLog.changes(spark, path, fromExclusive = -1L, to = cur)
    Seq(2L, 3L).foreach { v =>
      feed.filter(col("_commit_version") === v &&
        col("_change_type") === "delete").count() should be > 0L
      feed.filter(col("_commit_version") === v &&
        col("_change_type") === "insert").count() should be > 0L
    }
    // an append version emits inserts only
    feed.filter(col("_commit_version") === 1L &&
      col("_change_type") === "delete").count() shouldBe 0L
  }

  test("appendIfNew: at-or-below the txn watermark is a NO-OP, above applies") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    val s1 = TxLog.appendIfNew(rows(10 until 20), path, "appA", 0L, 0L)
    s1.version shouldBe 1L
    s1.txns shouldBe Map("appA" -> 0L)
    // exact redelivery: same (appId, batchId) — nothing commits
    val s2 = TxLog.appendIfNew(rows(10 until 20), path, "appA", 0L, 1L)
    s2.version shouldBe 1L
    TxLog.read(spark, path).count() shouldBe 20L
    // a LOWER batchId (a replay from an older checkpoint) is also a no-op
    TxLog.appendIfNew(rows(10 until 20), path, "appA", -1L, 1L)
      .version shouldBe 1L
    // the next batch applies; a DIFFERENT app has its own watermark
    TxLog.appendIfNew(rows(20 until 30), path, "appA", 1L, 1L)
      .version shouldBe 2L
    val s4 = TxLog.appendIfNew(rows(30 until 40), path, "appB", 0L, 2L)
    s4.version shouldBe 3L
    s4.txns shouldBe Map("appA" -> 1L, "appB" -> 0L)
    TxLog.read(spark, path).count() shouldBe 40L
    // plain appends/deletes CARRY the watermark forward untouched
    val s5 = TxLog.append(rows(40 until 50), path, 3L)
    s5.txns shouldBe Map("appA" -> 1L, "appB" -> 0L)
    // an empty appId names no writer — refused before publishing
    intercept[IllegalArgumentException] {
      TxLog.appendIfNew(rows(0 until 5), path, "", 0L, 4L)
    }
    TxLog.currentVersion(path).get shouldBe 4L
  }

  test("txn watermark survives checkpoint resolution AND vacuum") {
    val path = freshPath()
    TxLog.init(rows(0 until 5), path)
    // cross the commit-time checkpoint interval (10) with txn commits
    (0 until 12).foreach { b =>
      TxLog.appendIfNew(rows(100 + b * 5 until 100 + b * 5 + 5), path,
        "stream", b.toLong, b.toLong)
    }
    // v10's commit-time checkpoint must carry the accumulated map:
    // checkpoint+tail resolution equals full replay
    TxLog.resolve(path, 12L).txns shouldBe
      TxLog.resolve(path, 12L, useCheckpoints = false).txns
    TxLog.snapshot(path).txns shouldBe Map("stream" -> 11L)
    // vacuum drops the action history below v11 — the vacuum-time
    // checkpoint must persist the watermark or old batches would re-apply
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    TxLog.snapshot(path).txns shouldBe Map("stream" -> 11L)
    TxLog.appendIfNew(rows(0 until 5), path, "stream", 5L, 12L)
      .version shouldBe 12L // stale batch: still a no-op after vacuum
    TxLog.appendIfNew(rows(200 until 205), path, "stream", 12L, 12L)
      .version shouldBe 13L
    TxLog.read(spark, path).count() shouldBe (5L + 12 * 5 + 5)
  }

  test("appendIfNew under commitWithRetry: an interleaved foreign writer never breaks idempotency") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    TxLog.commitWithRetry(path)(v =>
      TxLog.appendIfNew(rows(10 until 20), path, "appA", 0L, v))
    // a foreign writer commits between the stream's batches
    TxLog.append(rows(20 until 30), path, TxLog.currentVersion(path).get)
    // redelivery of batch 0 AFTER the foreign commit: still a no-op
    // (the skip check re-reads the fresh snapshot)
    val before = TxLog.currentVersion(path).get
    TxLog.commitWithRetry(path)(v =>
      TxLog.appendIfNew(rows(10 until 20), path, "appA", 0L, v))
    TxLog.currentVersion(path).get shouldBe before
    // and the NEXT batch still applies on top of the foreign commit
    TxLog.commitWithRetry(path)(v =>
      TxLog.appendIfNew(rows(30 until 40), path, "appA", 1L, v))
    TxLog.read(spark, path).count() shouldBe 40L
    TxLog.snapshot(path).txns shouldBe Map("appA" -> 1L)
  }

  test("a failed checkpoint write fires a structured alert; the commit itself stays succeeded") {
    val path = freshPath()
    val sink = new graft.runner.Alerts.CollectingSink
    TxLog.init(rows(0 until 10), path, alerts = Some(sink)) // v0 checkpoint OK
    // sabotage v10's checkpoint target: a NON-EMPTY DIRECTORY squatting on
    // the name makes the atomic move fail (the version-file publish itself
    // uses a different name and must be unaffected)
    val blocker = new java.io.File(new java.io.File(path, "_graft_txlog"),
      f"${10L}%020d.checkpoint.parquet")
    blocker.mkdirs() shouldBe true
    java.nio.file.Files.write(new java.io.File(blocker, "squat").toPath,
      "x".getBytes)
    (1 to 10).foreach { i =>
      TxLog.append(rows(i * 10 until i * 10 + 10), path, (i - 1).toLong,
        alerts = Some(sink))
    }
    // the commit succeeded — only its advisory checkpoint failed
    TxLog.currentVersion(path) shouldBe Some(10L)
    TxLog.read(spark, path).count() shouldBe 110L
    val ckptAlerts = sink.alerts.filter(_.severity == "txlog_checkpoint_failed")
    ckptAlerts should have size 1
    ckptAlerts.head.pipeline shouldBe path
    ckptAlerts.head.message should include("v10")
    // reads replay through the older checkpoint + longer tail, same answer
    TxLog.resolve(path, 10L).files.toSet shouldBe
      TxLog.resolve(path, 10L, useCheckpoints = false).files.toSet
  }

  test("concurrent appendIfNew stress: racing redeliveries stay exactly-once, watermarks monotone") {
    val path = freshPath()
    TxLog.init(rows(0 until 10), path)
    val apps = Seq("appX", "appY", "appZ")
    val batchesPerApp = 5
    def batchRows(appIdx: Int, b: Int) = {
      val lo = 1000000 * (appIdx + 1) + 100 * b
      rows(lo until lo + 10)
    }
    // TWO threads per app race the SAME (appId, batchId) stream — the
    // overlap a failed-over streaming driver produces. Each thread also
    // redelivers a seeded random EARLIER batch after every apply; all of
    // those must hit the at-or-below watermark skip. maxRetries is high:
    // 6 writers on one table is deliberate worst-case contention.
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = for {
      (app, ai) <- apps.zipWithIndex
      t <- 0 until 2
    } yield new Thread(() => {
      val rng = new java.util.Random(31L * ai + t)
      try {
        start.await()
        (0 until batchesPerApp).foreach { b =>
          TxLog.commitWithRetry(path, maxRetries = 500)(v =>
            TxLog.appendIfNew(batchRows(ai, b), path, app, b.toLong, v))
          val re = rng.nextInt(b + 1) // redeliver some batch <= b: must no-op
          TxLog.commitWithRetry(path, maxRetries = 500)(v =>
            TxLog.appendIfNew(batchRows(ai, re), path, app, re.toLong, v))
        }
      } catch { case e: Throwable => errors.add(e); () }
    })
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    errors.toArray shouldBe empty
    // exactly-once: every (app, batch) multiset present exactly once
    val expectedIds = (0L until 10L) ++ (for {
      ai <- apps.indices; b <- 0 until batchesPerApp
      i <- 0 until 10
    } yield (1000000L * (ai + 1) + 100L * b + i))
    val got = TxLog.read(spark, path).select("id")
      .as[Long].collect().sorted
    got shouldBe expectedIds.sorted.toArray
    TxLog.snapshot(path).txns shouldBe
      apps.map(_ -> (batchesPerApp - 1).toLong).toMap
    // per-app watermarks are MONOTONE nondecreasing across every version
    val cur = TxLog.currentVersion(path).get
    (1L to cur).foreach { v =>
      val prev = TxLog.resolve(path, v - 1).txns
      val now = TxLog.resolve(path, v).txns
      prev.foreach { case (a, b) =>
        assert(now.getOrElse(a, Long.MinValue) >= b,
          s"watermark for $a regressed at v$v: ${now.get(a)} < $b")
      }
    }
  }

  // --- CHECK constraints (Delta invariants) ------------------------------

  test("constraints: violating commits refuse atomically, UNKNOWN passes, NOT NULL spelled explicitly") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path)
    TxLog.addConstraint(spark, path, "id_nonneg", "id >= 0",
      expectedVersion = 0L).version shouldBe 1L
    // violating append: named error, version unchanged, table unchanged
    val before = TxLog.read(spark, path).count()
    val e = intercept[TxLog.ConstraintViolationException] {
      TxLog.append(rows(0 until 5).withColumn("id", -col("id") - 1L),
        path, expectedVersion = 1L)
    }
    e.name shouldBe "id_nonneg"
    e.violations shouldBe 5L
    TxLog.currentVersion(path) shouldBe Some(1L)
    TxLog.read(spark, path).count() shouldBe before
    // valid append passes
    TxLog.append(rows(50 until 60), path, expectedVersion = 1L)
    TxLog.read(spark, path).count() shouldBe 60L
    // UNKNOWN passes (standard SQL CHECK): x > 0 over a NULL x row is ok
    val nx = Seq((100L, null.asInstanceOf[java.lang.Long]),
      (101L, java.lang.Long.valueOf(7L))).toDF("id", "x")
    TxLog.append(nx, path, expectedVersion = 2L) // widens schema with x
    TxLog.addConstraint(spark, path, "x_pos", "x > 0", expectedVersion = 3L)
    TxLog.append(Seq((102L, null.asInstanceOf[java.lang.Long])).toDF("id", "x"),
      path, expectedVersion = 4L) // NULL x → UNKNOWN → passes
    // ... but a definitive FALSE refuses
    intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq((103L, java.lang.Long.valueOf(-1L))).toDF("id", "x"),
        path, expectedVersion = 5L)
    }.name shouldBe "x_pos"
    // NOT NULL = IS NOT NULL (never UNKNOWN): the declaration scan sees
    // the existing NULL-x rows (including the one from the PRE-x append,
    // aligned to NULL) and refuses
    intercept[TxLog.ConstraintViolationException] {
      TxLog.addConstraint(spark, path, "x_set", "x IS NOT NULL",
        expectedVersion = 5L)
    }.name shouldBe "x_set"
    TxLog.currentVersion(path) shouldBe Some(5L)
  }

  test("addConstraint refuses when existing data violates; probes resolution and type at declaration") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path)
    // existing rows violate id > 10 → the declaration scan refuses
    intercept[TxLog.ConstraintViolationException] {
      TxLog.addConstraint(spark, path, "late", "id > 10", 0L)
    }.violations shouldBe 11L
    TxLog.currentVersion(path) shouldBe Some(0L)
    // unresolvable column: loud at declaration, not at first append
    intercept[Exception] {
      TxLog.addConstraint(spark, path, "ghost", "no_such_col > 0", 0L)
    }
    // non-boolean expression refused
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, path, "notbool", "id + 1", 0L)
    }.getMessage should include("not boolean")
    // duplicate name refused (drop first)
    TxLog.addConstraint(spark, path, "c1", "id >= 0", 0L)
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, path, "c1", "id >= -5", 1L)
    }.getMessage should include("already exists")
  }

  test("constraints survive checkpoints and vacuum; drop re-allows; narrower-schema append checked as table-meaning") {
    val path = freshPath()
    TxLog.init(Seq((1L, "a")).toDF("id", "tag"), path)
    TxLog.addConstraint(spark, path, "tag_set", "tag IS NOT NULL", 0L)
    // a NARROWER append (no tag column) means tag = NULL in the table —
    // the IS NOT NULL constraint must refuse it even though the writer
    // never mentioned the column
    intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq(Tuple1(2L)).toDF("id"), path, expectedVersion = 1L)
    }.name shouldBe "tag_set"
    // churn versions past a checkpoint, then vacuum the declaring version
    // away — enforcement must survive via the checkpointed map
    var v = 1L
    (0 until 12).foreach { i =>
      TxLog.append(Seq((10L + i, s"t$i")).toDF("id", "tag"), path, v); v += 1
    }
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    intercept[Exception](TxLog.read(spark, path, asOf = Some(1L))) // history gone
    intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq((99L, null.asInstanceOf[String])).toDF("id", "tag"),
        path, expectedVersion = v)
    }.name shouldBe "tag_set"
    // drop re-allows; dropping an unknown name raises
    TxLog.dropConstraint(path, "tag_set", expectedVersion = v)
    v += 1
    intercept[IllegalArgumentException] {
      TxLog.dropConstraint(path, "tag_set", expectedVersion = v)
    }.getMessage should include("no constraint named")
    TxLog.append(Seq((99L, null.asInstanceOf[String])).toDF("id", "tag"),
      path, expectedVersion = v)
    TxLog.read(spark, path).filter(col("tag").isNull).count() shouldBe 1L
  }

  test("constraints: appendIfNew and replaceWhereKeys new data are enforced") {
    val path = freshPath()
    TxLog.init(rows(0 until 20), path)
    TxLog.addConstraint(spark, path, "id_nonneg", "id >= 0", 0L)
    intercept[TxLog.ConstraintViolationException] {
      TxLog.appendIfNew(rows(0 until 3).withColumn("id", -col("id") - 1L),
        path, appId = "app", batchId = 0L, expectedVersion = 1L)
    }
    TxLog.currentVersion(path) shouldBe Some(1L)
    TxLog.snapshot(path).txns shouldBe empty // refused batch left no watermark
    intercept[TxLog.ConstraintViolationException] {
      TxLog.replaceWhereKeys(spark, path, rows(0 until 3).select("id"),
        Seq("id"), rows(0 until 3).withColumn("id", -col("id") - 1L),
        expectedVersion = 1L)
    }
    TxLog.currentVersion(path) shouldBe Some(1L)
    TxLog.read(spark, path).count() shouldBe 20L
  }

  // --- log-native per-file stats (data skipping from the log) ------------

  test("log stats: every commit kind records them, pruning is sound, and they survive checkpoint + vacuum") {
    val path = freshPath()
    // range-clustered: disjoint per-file id ranges make pruning provable
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), path)
    val s0 = TxLog.snapshot(path)
    s0.stats.keySet shouldBe s0.files.toSet // every file has stats
    s0.stats.values.map(_.rows).sum shouldBe 400L
    val (kept, total) = TxLog.statsPrunedFilesCanonical(path, "id", 100L, 149L)
    total shouldBe s0.files.size
    kept.size should be < total // disjoint ranges actually pruned
    // soundness: pruned read + row filter ≡ full read + row filter
    def slice(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("id").between(100L, 149L)).select("id").as[Long]
        .collect().sorted
    slice(TxLog.readPruned(spark, path, "id", 100L, 149L)) shouldBe
      slice(TxLog.read(spark, path))
    // delete/replace/compact: stats follow the file actions exactly
    TxLog.deleteWhere(spark, path, col("id") < 50L, 0L)
    TxLog.replaceWhereKeys(spark, path, rows(200 until 210).select("id"),
      Seq("id"), rows(200 until 210).withColumn("payload", lit("NEW")), 1L)
    TxLog.compact(spark, path, 2L)
    val s3 = TxLog.snapshot(path)
    s3.stats.keySet shouldBe s3.files.toSet
    s3.stats.values.map(_.rows).sum shouldBe 350L // 400 - 50 deleted
    slice(TxLog.readPruned(spark, path, "id", 100L, 149L)) shouldBe
      slice(TxLog.read(spark, path))
    // time travel: version-0 pruning serves version-0 data (stats are
    // transactionally consistent, never stale like a sidecar)
    TxLog.readPruned(spark, path, "id", 0L, 49L, asOf = Some(0L))
      .filter(col("id") < 50L).count() shouldBe 50L
    // churn past a checkpoint, vacuum — stats survive via the checkpoint
    var v = 3L
    (0 until 10).foreach { i =>
      TxLog.append(rows(1000 + i * 10 until 1010 + i * 10), path, v); v += 1
    }
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    val sv = TxLog.snapshot(path)
    sv.stats.keySet shouldBe sv.files.toSet
    val (kept2, total2) = TxLog.statsPrunedFilesCanonical(path, "id", 100L, 149L)
    kept2.size should be < total2
    slice(TxLog.readPruned(spark, path, "id", 100L, 149L)) shouldBe
      slice(TxLog.read(spark, path))
  }

  test("log stats: all-NULL and stat-less files are never pruned; date/ntz use canonical units") {
    val path = freshPath()
    val data = Seq(
      (1L, java.lang.Long.valueOf(5L), java.sql.Date.valueOf("2024-01-10"),
        java.time.LocalDateTime.of(2024, 1, 10, 12, 0)),
      (2L, null.asInstanceOf[java.lang.Long],
        java.sql.Date.valueOf("2024-06-10"),
        java.time.LocalDateTime.of(2024, 6, 10, 12, 0)))
      .toDF("id", "x", "d", "ts").repartitionByRange(2, col("id"))
    TxLog.init(data, path)
    val snap = TxLog.snapshot(path)
    // file 2's x is all-NULL → min/max None → kept under any x bounds
    val allNull = snap.stats.values.filter(_.cols("x").min.isEmpty)
    allNull should have size 1
    allNull.head.cols("x").nulls shouldBe 1L
    val (keptX, _) = TxLog.statsPrunedFilesCanonical(path, "x", 1000L, 2000L)
    keptX.size shouldBe 1 // file 1 pruned (5 ∉ [1000,2000]); all-NULL kept
    // DATE bounds in epoch days
    val jan10 = java.time.LocalDate.of(2024, 1, 10).toEpochDay
    val (keptD, totalD) = TxLog.statsPrunedFilesCanonical(path, "d", jan10, jan10)
    keptD.size should be < totalD
    // NTZ bounds in epoch micros (UTC session mapping)
    val juneMicros = java.time.LocalDateTime.of(2024, 6, 10, 12, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val (keptT, totalT) =
      TxLog.statsPrunedFilesCanonical(path, "ts", juneMicros, juneMicros)
    keptT.size should be < totalT
    // a column with no canonical-long stats never prunes through the
    // canonical API (string stats live in strMin/strMax, not here)
    TxLog.statsPrunedFilesCanonical(path, "nope", 0L, 0L)._1.size shouldBe 2
  }

  test("incrementLastCodePoint: surrogate skip, U+10FFFF carry, exhaustion") {
    def cp(c: Int) = new String(Character.toChars(c))
    TxLog.incrementLastCodePoint("abc") shouldBe Some("abd")
    // D7FF + 1 lands in the surrogate range -> jump to E000
    TxLog.incrementLastCodePoint("a\uD7FF") shouldBe Some("a\uE000")
    // a trailing U+10FFFF cannot increment: drop it, carry left
    TxLog.incrementLastCodePoint("a" + cp(0x10FFFF)) shouldBe Some("b")
    // nothing above an all-U+10FFFF prefix exists
    TxLog.incrementLastCodePoint(cp(0x10FFFF) * 3) shouldBe None
    // every increment is strictly above ANY extension of the input prefix
    val u = org.apache.spark.unsafe.types.UTF8String.fromString _
    Seq("abc", "a\uD7FF", "a" + cp(0x1F600), "zz\uFFFF").foreach { p =>
      val inc = TxLog.incrementLastCodePoint(p).get
      u(inc).compareTo(u(p + "extension-beyond-the-prefix")) should be > 0
    }
  }

  test("stats + constraints property fuzz: random histories stay sound, checkpoint-consistent, and model-exact") {
    // random op sequences (append / delete / replace / compact / vacuum /
    // add-drop constraint) driven against a tiny driver-side model.
    // Invariants after EVERY op:
    //   1. stats cover exactly the snapshot's files (keys == file set);
    //   2. pruning soundness: readPruned + row filter == read + row
    //      filter for random bounds;
    //   3. checkpoint+tail resolution == pure action replay for files,
    //      schema, constraints AND stats;
    //   4. the constraint model is exact: an append refuses iff it
    //      carries a violating row, and a refusal never publishes.
    def df(ids: Seq[Long]) = ids.map(i => (i, s"p$i")).toDF("id", "payload")
    (1 to 4).foreach { seed =>
      // splitmix-style scramble: sequential seeds correlate on first draws
      val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 0x85EBCA6BL)
      val path = freshPath()
      var live = scala.collection.mutable.Set[Long]()
      var v = 0L
      var constrained = false // model: "id >= 0" active?
      var vacuumed = false // pure action replay impossible below horizon
      var minRetained = 0L // oldest version still readable (vacuum horizon)
      // once a deletion vector exists, physical rows (stats) can exceed
      // visible rows; the row-sum invariant weakens to >= (visible
      // correctness itself stays exact through the pruned-read check)
      var dvUsed = false
      // per-version model state, the RESTORE oracle: restoring to w must
      // reproduce exactly the live set and constraint flag recorded at w
      val histLive = scala.collection.mutable.Map[Long, Set[Long]]()
      val histCons = scala.collection.mutable.Map[Long, Boolean]()
      TxLog.init(df(0L until 40L).repartitionByRange(4, col("id")), path)
      live ++= (0L until 40L)
      def checkInvariants(): Unit = {
        histLive(v) = live.toSet; histCons(v) = constrained
        val snap = TxLog.snapshot(path)
        withClue(s"seed=$seed v=$v: ") {
          snap.stats.keySet shouldBe snap.files.toSet
          if (dvUsed)
            snap.stats.values.map(_.rows).sum should be >= live.size.toLong
          else
            snap.stats.values.map(_.rows).sum shouldBe live.size.toLong
          val lo = rnd.nextLong(200L) - 50L
          val hi = lo + rnd.nextLong(120L)
          TxLog.readPruned(spark, path, "id", lo, hi)
            .filter(col("id").between(lo, hi)).select("id").as[Long]
            .collect().sorted shouldBe
            live.filter(i => i >= lo && i <= hi).toSeq.sorted.toArray
          if (!vacuumed) { // below-horizon records are gone after vacuum
            val pure = TxLog.resolve(path, snap.version, useCheckpoints = false)
            pure.files.sorted shouldBe snap.files.sorted
            pure.schema shouldBe snap.schema
            pure.constraints shouldBe snap.constraints
            pure.stats shouldBe snap.stats
          }
          snap.constraints.nonEmpty shouldBe constrained
        }
      }
      checkInvariants()
      (0 until 14).foreach { _ =>
        rnd.nextInt(15) match {
          case 0 | 1 | 2 | 3 => // append, sometimes with a negative id
            val base = rnd.nextLong(150L)
            val ids = (base until base + 1 + rnd.nextLong(20L)).toSeq ++
              (if (rnd.nextInt(3) == 0) Seq(-1L - rnd.nextLong(5L)) else Nil)
            val fresh = ids.distinct.filterNot(live.contains)
            val violates = constrained && fresh.exists(_ < 0L)
            if (violates) {
              intercept[TxLog.ConstraintViolationException] {
                TxLog.append(df(fresh), path, v)
              }
              TxLog.currentVersion(path) shouldBe Some(v) // nothing published
            } else if (fresh.nonEmpty) {
              TxLog.append(df(fresh), path, v); v += 1; live ++= fresh
            }
          case 4 | 5 => // predicate delete
            val cut = rnd.nextLong(150L)
            TxLog.deleteWhere(spark, path, col("id") >= cut, v); v += 1
            live = live.filter(_ < cut)
          case 6 => // keyed replace (replace an existing slice with fresh ids)
            val ks = live.toSeq.sorted.take(1 + rnd.nextInt(8))
            val repl = (900L + rnd.nextLong(50L) until 905L + rnd.nextLong(50L))
              .toSeq.distinct.filterNot(i => live.contains(i) && !ks.contains(i))
            if (ks.nonEmpty) {
              TxLog.replaceWhereKeys(spark, path, df(ks).select("id"),
                Seq("id"), df(repl), v)
              v += 1; live --= ks; live ++= repl
            }
          case 7 => // compact (maybe sort-clustered)
            val s = TxLog.compact(spark, path, v,
              sortCols = if (rnd.nextBoolean()) Seq("id") else Nil)
            v = s.version // no-op returns same version
          case 8 => // vacuum (load-bearing checkpoint carries stats+cons)
            val retain = 1 + rnd.nextInt(2)
            TxLog.vacuum(path, retainVersions = retain, minAgeMs = 0L)
            vacuumed = true
            minRetained = math.max(minRetained, v - retain + 1)
          case 9 | 10 => // toggle the constraint
            if (!constrained && live.forall(_ >= 0L)) {
              TxLog.addConstraint(spark, path, "id_nonneg", "id >= 0", v)
              v += 1; constrained = true
            } else if (constrained) {
              TxLog.dropConstraint(path, "id_nonneg", v)
              v += 1; constrained = false
            }
          case 11 => // restore to a random retained version
            val target = minRetained + rnd.nextLong(v - minRetained + 1)
            TxLog.restore(path, target, v); v += 1
            live = scala.collection.mutable.Set(histLive(target).toSeq: _*)
            constrained = histCons(target)
            // a restore can re-activate a vectored state
            dvUsed = dvUsed || TxLog.snapshot(path).dvs.nonEmpty
          case 12 => // soft delete by deletion vector (model == delete)
            val cut = rnd.nextLong(150L)
            TxLog.deleteWhereDV(spark, path, col("id") >= cut, v); v += 1
            live = live.filter(_ < cut)
            dvUsed = true
          case 13 => // purge: materialize vectors, visibility-neutral
            val s = TxLog.purgeDeletes(spark, path, v)
            v = s.version // no-op keeps the version
          case _ => // append a legal negative while UNconstrained
            if (!constrained) {
              val neg = Seq(-100L - rnd.nextLong(50L))
                .filterNot(live.contains)
              if (neg.nonEmpty) {
                TxLog.append(df(neg), path, v); v += 1; live ++= neg
              }
            }
        }
        checkInvariants()
      }
    }
  }

  test("deleteWhere probes only the files the log stats allow") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val path = freshPath()
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), path)
    TxLog.snapshot(path).files should have size 8
    // files read by every parquet scan of the delete's queries, the
    // probe first; AQE off (child session) keeps the scans visible
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.executedPlan.foreach {
          case scan: FileSourceScanExec if scan.output.exists(_.name == "id") =>
            scanned.add(scan.selectedPartitions.totalNumberOfFiles)
          case _ =>
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      TxLog.deleteWhere(s, path, col("id").between(96L, 103L), 0L)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (scanned.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally s.listenerManager.unregister(listener)
    TxLog.read(spark, path).count() shouldBe 392L
    scanned should not be empty
    scanned.forEach(n => n should be < 8L)
  }

  test("history: every commit kind attributed with params, newest first, zero jobs") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(4), path) // v0
    TxLog.append(rows(100 until 150), path, 0L) // v1
    TxLog.appendIfNew(rows(150 until 160), path, "app-x", 7L, 1L) // v2
    TxLog.addConstraint(spark, path, "id_nn", "id IS NOT NULL", 2L) // v3
    TxLog.dropConstraint(path, "id_nn", 3L) // v4
    TxLog.deleteWhere(spark, path, col("id") >= 150L, 4L) // v5
    TxLog.compact(spark, path, 5L, targetFiles = 2) // v6
    TxLog.replaceWhereKeys(spark, path,
      rows(0 until 10).select("id"), Seq("id"),
      newData = rows(0 until 10), expectedVersion = 6L) // v7
    TxLog.restore(path, toVersion = 5L, expectedVersion = 7L) // v8

    countJobs { // history is pure log metadata: ZERO jobs
      val got = TxLog.commitInfos(path)
      got.map(_.version) shouldBe (8L to 0L by -1L)
      got.map(_.operation.get) shouldBe Seq("RESTORE", "MERGE", "OPTIMIZE",
        "DELETE", "DROP_CONSTRAINT", "ADD_CONSTRAINT", "STREAMING_APPEND",
        "APPEND", "INIT")
      val byV = got.map(ci => ci.version -> ci).toMap
      byV(2L).params shouldBe Map("appId" -> "app-x", "batchId" -> "7")
      byV(3L).params shouldBe Map("name" -> "id_nn", "check" -> "id IS NOT NULL")
      byV(4L).params shouldBe Map("name" -> "id_nn")
      byV(6L).params("targetFiles") shouldBe "2"
      byV(7L).params shouldBe Map("keys" -> "id")
      byV(8L).params shouldBe Map("restoredVersion" -> "5")
      // rows_added from the records' own stats: INIT 100, APPEND 50,
      // STREAMING_APPEND 10, metadata-only commits 0
      byV(0L).rowsAdded shouldBe Some(100L)
      byV(1L).rowsAdded shouldBe Some(50L)
      byV(2L).rowsAdded shouldBe Some(10L)
      byV(3L).rowsAdded shouldBe Some(0L)
      byV(4L).rowsAdded shouldBe Some(0L)
    } shouldBe 0
    // the DataFrame face serves the same rows (its build may run jobs)
    TxLog.history(spark, path).count() shouldBe 9L
    // history is vacuum-retention-bounded, exactly like DESCRIBE HISTORY
    TxLog.vacuum(path, retainVersions = 3, minAgeMs = 0L)
    TxLog.commitInfos(path).map(_.version) shouldBe Seq(8L, 7L, 6L)
  }

  test("restore: data+schema+constraints roll back as a NEW commit; txn watermarks survive") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(4), path) // v0
    TxLog.append(rows(100 until 150), path, 0L) // v1
    // v2: widening append (schema evolution), v3: constraint, v4: txn
    TxLog.append(rows(150 until 200).withColumn("extra", col("id") * 2), path, 1L)
    TxLog.addConstraint(spark, path, "id_nn", "id IS NOT NULL", 2L)
    TxLog.appendIfNew(rows(200 until 210), path, "app-x", 5L, 3L) // v4
    val v1 = TxLog.snapshot(path, Some(1L))

    val restored = TxLog.restore(path, toVersion = 1L, expectedVersion = 4L)
    restored.version shouldBe 5L
    // data == the target version exactly (same files, same rows)
    restored.files.sorted shouldBe v1.files.sorted
    TxLog.read(spark, path).select("id").as[Long].collect().sorted shouldBe
      (0L until 150L).toArray
    // schema rolled back with the files: the widened column is gone
    TxLog.read(spark, path).columns should not contain "extra"
    restored.schema shouldBe v1.schema
    // constraints rolled back: the later declaration no longer gates
    restored.constraints shouldBe empty
    TxLog.append(rows(300 until 301).withColumn("id",
      lit(null).cast("long")), path, 5L) // would violate id_nn if alive
    // txn watermarks deliberately NOT rolled back: the old batch still no-ops
    restored.txns shouldBe Map("app-x" -> 5L)
    val noop = TxLog.appendIfNew(rows(900 until 999), path, "app-x", 5L, 6L)
    noop.version shouldBe 6L // unchanged - skip, no new version
    // the pre-restore past is intact BELOW the restore commit
    TxLog.read(spark, path, asOf = Some(4L)).count() shouldBe 210L
    TxLog.read(spark, path, asOf = Some(4L)).columns should contain("extra")
    // and the restore itself is an ordinary time-travelable version
    TxLog.read(spark, path, asOf = Some(5L)).count() shouldBe 150L

    // refusals: forward "restore", and a physically missing target file
    intercept[IllegalArgumentException] {
      TxLog.restore(path, toVersion = 99L, expectedVersion = 6L)
    }.getMessage should include("rolls BACK")
    val path2 = freshPath()
    TxLog.init(rows(0 until 50).repartition(2), path2)
    val f0 = TxLog.snapshot(path2).files.head
    TxLog.deleteWhere(spark, path2, lit(true), 0L) // v1: table emptied
    java.nio.file.Files.delete(new java.io.File(path2, f0).toPath)
    intercept[IllegalArgumentException] {
      TxLog.restore(path2, toVersion = 0L, expectedVersion = 1L)
    }.getMessage should include("no longer exist")
  }
}
