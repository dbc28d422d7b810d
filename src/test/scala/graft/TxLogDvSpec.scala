package graft

import graft.gold.TxLog
import org.apache.spark.sql.functions._

/** Deletion vectors (the Delta DV shape): soft deletes recorded as
  * per-file (file, row_index) sidecars — O(deleted rows) write cost, zero
  * data-file churn — applied by every read path. The contract points:
  * visible-row equivalence with the rewriting DELETE, composition of
  * successive vectors, versioned time travel, checkpoint+vacuum survival
  * (losing the DV map would RESURRECT rows), materialization (purge /
  * compact / rewriting commits), CDF exactness (a DV commit emits exactly
  * its newly-dead rows), restore semantics (clearing a vector resurrects),
  * and the streaming-source contracts.
  */
class TxLogDvSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txdv").toString + "/t"

  private def rows(r: Range): org.apache.spark.sql.DataFrame =
    r.map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "payload", "grp")

  private def ids(df: org.apache.spark.sql.DataFrame): Array[Long] =
    df.select("id").as[Long].collect().sorted

  private def partFiles(path: String): Set[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.getName).toSet

  private def dvFiles(path: String): Set[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("dv-"))
      .map(_.getName).toSet

  test("DV delete == rewriting delete on visible rows, with ZERO data-file churn") {
    val a = freshPath(); val b = freshPath()
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), a)
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), b)
    val beforeParts = partFiles(a)
    val sA = TxLog.deleteWhereDV(spark, a, col("id") % 7 === 3, 0L)
    TxLog.deleteWhere(spark, b, col("id") % 7 === 3, 0L)
    ids(TxLog.read(spark, a)) shouldBe ids(TxLog.read(spark, b))
    // the soft path wrote NO data files and removed none
    partFiles(a) shouldBe beforeParts
    sA.files.toSet shouldBe TxLog.snapshot(a, Some(0L)).files.toSet
    dvFiles(a) should have size 1
    // NULL-predicate rows never delete (SQL DELETE semantics)
    val c = freshPath()
    Seq((1L, java.lang.Long.valueOf(10L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "x").repartition(1).write.mode("overwrite")
      .parquet(c.stripSuffix("/t") + "/stage")
    TxLog.init(spark.read.parquet(c.stripSuffix("/t") + "/stage"), c)
    TxLog.deleteWhereDV(spark, c, col("x") > 5L, 0L)
    ids(TxLog.read(spark, c)) shouldBe Array(2L)
  }

  test("DV read plan: broadcast anti-join (table never shuffled), plain scan when no vector") {
    val path = freshPath()
    TxLog.init(rows(0 until 200).repartitionByRange(4, col("id")), path)
    // vector-less read: no join in the plan at all (zero overhead claim)
    val plain = TxLog.read(spark, path)
    plain.collect().length shouldBe 200
    plain.queryExecution.executedPlan.toString should not include "Join"
    TxLog.deleteWhereDV(spark, path, col("id") % 2 === 0, 0L)
    val dv = TxLog.read(spark, path)
    // collect() executes THIS DataFrame's own query execution (count()
    // would build a separate one and leave this plan unexecuted); AQE
    // rewrites during execution — read the FINAL plan
    dv.collect().length shouldBe 100
    val plan = dv.queryExecution.executedPlan.toString
    // the DV application is a BROADCAST hash LEFT ANTI join — the
    // deleted-row set ships to the table, never the reverse — and the
    // table is never shuffled
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    (plan should not).include("ShuffleExchange")
  }

  test("successive DVs compose; time travel serves each version's own DV state") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") < 10L, 0L) // v1
    TxLog.deleteWhereDV(spark, path, col("id") >= 90L, 1L) // v2: merges
    ids(TxLog.read(spark, path)) shouldBe (10L until 90L).toArray
    ids(TxLog.read(spark, path, asOf = Some(1L))) shouldBe (10L until 100L).toArray
    ids(TxLog.read(spark, path, asOf = Some(0L))) shouldBe (0L until 100L).toArray
    // per-file replacement: the table's current mapping points only at
    // the NEWEST vector for re-touched files
    val snap = TxLog.snapshot(path)
    snap.dvs.values.toSet.subsetOf(dvFiles(path)) shouldBe true
    // pruned reads apply DVs too
    ids(TxLog.readPruned(spark, path, "id", 0L, 20L)
      .filter(col("id") <= 20L)) shouldBe (10L to 20L).toArray
  }

  test("DV state survives checkpoints and vacuum - deleted rows never resurrect") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") < 20L, 0L)
    // churn far past the checkpoint interval, then vacuum away the
    // declaring version - the load-bearing checkpoint must carry the map
    var v = 1L
    (0 until 12).foreach { i =>
      TxLog.append(rows(1000 + i * 10 until 1005 + i * 10), path, v); v += 1
    }
    TxLog.vacuum(path, retainVersions = 2, minAgeMs = 0L)
    ids(TxLog.read(spark, path)).take(5) shouldBe (20L until 25L).toArray
    TxLog.read(spark, path).filter(col("id") < 20L).count() shouldBe 0L
    // the referenced DV sidecar survived vacuum
    TxLog.snapshot(path).dvs.values.toSet.subsetOf(dvFiles(path)) shouldBe true
  }

  test("vacuum reaps superseded DV sidecars, keeps referenced ones") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartitionByRange(2, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") === 1L, 0L)
    val firstDv = TxLog.snapshot(path).dvs.values.toSet
    TxLog.deleteWhereDV(spark, path, col("id") === 2L, 1L) // supersedes
    val secondDv = TxLog.snapshot(path).dvs.values.toSet
    secondDv.intersect(firstDv) shouldBe empty
    TxLog.vacuum(path, retainVersions = 1, minAgeMs = 0L)
    dvFiles(path) shouldBe secondDv // superseded sidecar reaped
    ids(TxLog.read(spark, path)) shouldBe
      (0L until 100L).filterNot(i => i == 1L || i == 2L).toArray
  }

  test("purge materializes all vectors: same visible rows, plain scans after") {
    val path = freshPath()
    TxLog.init(rows(0 until 200).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") % 3 === 0, 0L)
    val visible = ids(TxLog.read(spark, path))
    val purged = TxLog.purgeDeletes(spark, path, 1L)
    purged.dvs shouldBe empty
    ids(TxLog.read(spark, path)) shouldBe visible
    // physical rows now equal visible rows (stats are exact again)
    purged.stats.values.map(_.rows).sum shouldBe visible.length.toLong
    // purge on a vector-less table is a no-op, no commit churn
    TxLog.purgeDeletes(spark, path, 2L).version shouldBe 2L
  }

  test("rewriting commits on a DV'd table never resurrect soft-deleted rows") {
    val path = freshPath()
    TxLog.init(rows(0 until 300).repartitionByRange(6, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") % 10 === 4, 0L)
    // classic DELETE rewrite over files that carry vectors
    TxLog.deleteWhere(spark, path, col("id") < 50L, 1L)
    val expect2 = (50L until 300L).filterNot(_ % 10 == 4).toArray
    ids(TxLog.read(spark, path)) shouldBe expect2
    // keyed replace over vectored files: the replaced key comes back, the
    // soft-deleted neighbors stay dead
    TxLog.replaceWhereKeys(spark, path,
      Seq(54L).toDF("id"), Seq("id"),
      newData = rows(54 until 55), expectedVersion = 2L)
    ids(TxLog.read(spark, path)) shouldBe (expect2 :+ 54L).sorted
    // compaction materializes: vectors shed for compacted files
    val s = TxLog.compact(spark, path, 3L, targetFiles = 2)
    s.dvs shouldBe empty
    ids(TxLog.read(spark, path)) shouldBe (expect2 :+ 54L).sorted
  }

  test("CDF: mirror folded from a DV-bearing history equals every version's direct read") {
    val path = freshPath()
    TxLog.init(rows(0 until 120).repartitionByRange(3, col("id")), path) // v0
    TxLog.deleteWhereDV(spark, path, col("id") % 4 === 1, 0L) // v1: soft
    TxLog.append(rows(200 until 240), path, 1L) // v2
    TxLog.deleteWhereDV(spark, path, col("id") % 4 === 2, 2L) // v3: merges
    TxLog.purgeDeletes(spark, path, 3L) // v4: materialize (remove+add)
    TxLog.restore(path, toVersion = 2L, expectedVersion = 4L) // v5: resurrects %4==2
    (0L to 5L).foreach { v =>
      withClue(s"version $v: ") {
        val direct = TxLog.read(spark, path, asOf = Some(v))
          .select("id", "payload", "grp").collect().map(_.toSeq).sorted(
            Ordering.by((s: Seq[Any]) => s.head.asInstanceOf[Long]))
        val mirrored = TxLog.mirrorFromChanges(spark, path, Some(v))
          .select("id", "payload", "grp").collect().map(_.toSeq).sorted(
            Ordering.by((s: Seq[Any]) => s.head.asInstanceOf[Long]))
        mirrored shouldBe direct
      }
    }
    // keyed consumer == multiset reference on the same history
    val merged = TxLog.mergeByKeyFromChanges(spark, path, Seq("id"))
    ids(merged.toDF()) shouldBe ids(TxLog.read(spark, path))
  }

  test("restore across vectors: clearing resurrects; re-added files keep their vectors") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartitionByRange(2, col("id")), path) // v0
    TxLog.deleteWhereDV(spark, path, col("id") < 10L, 0L) // v1
    TxLog.deleteWhereDV(spark, path, col("id") >= 95L, 1L) // v2
    // restore to v1: the second vector must CLEAR (95.. resurrect), the
    // first must stay (0..9 dead)
    TxLog.restore(path, toVersion = 1L, expectedVersion = 2L) // v3
    ids(TxLog.read(spark, path)) shouldBe (10L until 100L).toArray
    // purge, then restore to the vectored v1: files AND vector come back
    TxLog.purgeDeletes(spark, path, 3L) // v4
    TxLog.restore(path, toVersion = 1L, expectedVersion = 4L) // v5
    ids(TxLog.read(spark, path)) shouldBe (10L until 100L).toArray
    TxLog.snapshot(path).dvs should not be empty
  }

  test("streaming: append source treats a DV commit as delete-class; CDF source emits DV rows") {
    val path = freshPath()
    val work = java.nio.file.Files.createTempDirectory("txdv_stream").toString
    TxLog.init(rows(0 until 40).repartition(2), path)
    TxLog.append(rows(40 until 80), path, 0L)
    TxLog.deleteWhereDV(spark, path, col("id") < 5L, 1L) // v2: soft delete
    TxLog.append(rows(80 until 90), path, 2L) // v3
    def drainAppend(ckpt: String, ignoreDeletes: Boolean): Either[Throwable, Long] = {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", 4)
      val out = s"$work/out_${ckpt.hashCode}"
      val q = child.readStream.format("graft-txlog")
        .option("path", path)
        .option("ignoreDeletes", ignoreDeletes.toString)
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$work/$ckpt")
        .outputMode("append").start()
      try { q.processAllAvailable(); Right(spark.read.parquet(out).count()) }
      catch { case scala.util.control.NonFatal(e) => Left(e) }
      finally q.stop()
    }
    val failed = drainAppend("ck_fail", ignoreDeletes = false)
    failed.isLeft shouldBe true
    failed.left.toOption.get.getMessage should include("deletion vectors")
    // with ignoreDeletes the DV commit passes as an empty batch and the
    // stream serves every APPENDED row (soft-deleted ones included: they
    // were served when their files were added - Delta's same contract)
    drainAppend("ck_ok", ignoreDeletes = true) shouldBe Right(90L)

    // CDF source: streamed change rows == the batch feed, DV deltas included
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    val cdfOut = s"$work/cdf_out"
    val q = child.readStream.format("graft-txlog-cdf")
      .option("path", path).load()
      .writeStream.format("parquet").option("path", cdfOut)
      .option("checkpointLocation", s"$work/cdf_ck")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(cdfOut)
      .select("id", "_change_type", "_commit_version")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val batch = TxLog.changes(spark, path, -1L, 3L)
      .select("id", "_change_type", "_commit_version")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    streamed shouldBe batch
    // the DV commit's emission is exactly its newly-dead rows
    val dvDeletes = spark.read.parquet(cdfOut)
      .filter(col("_commit_version") === 2L)
    dvDeletes.select("_change_type").distinct().as[String].collect() shouldBe
      Array("delete")
    ids(dvDeletes) shouldBe (0L until 5L).toArray
  }

  /** Force the per-file bitmap path (threshold 0), run `body`, restore. */
  private def withBitmapDvs[A](body: => A): A = {
    val saved = TxLog.dvBitmapMinRows.get()
    TxLog.dvBitmapMinRows.set(0L)
    try body finally TxLog.dvBitmapMinRows.set(saved)
  }

  test("per-file bitmap DV path above the threshold: rows identical to " +
      "the broadcast twin, NO join or broadcast in the plan, sidecars " +
      "loaded once per JVM") {
    val path = freshPath()
    // 4 range files; three DISJOINT deletes → three ACTIVE sidecars
    TxLog.init(rows(0 until 400).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") < 50L, 0L)
    TxLog.deleteWhereDV(spark, path, col("id") >= 350L, 1L)
    TxLog.deleteWhereDV(spark, path, col("id") >= 150L && col("id") < 160L, 2L)
    dvFiles(path) should have size 3
    val expected = (0L until 400L)
      .filterNot(i => i < 50 || i >= 350 || (i >= 150 && i < 160)).toArray

    graft.functions.DvSidecars.clearCache()
    val loads0 = graft.functions.DvSidecars.loads.get()
    val (got, plan) = withBitmapDvs {
      val df = TxLog.read(spark, path)
      val g = ids(df)
      (g, df.queryExecution.executedPlan.toString)
    }
    got shouldBe expected
    // the broadcast twin (threshold forced sky-high) serves the same rows
    val saved = TxLog.dvBitmapMinRows.get()
    TxLog.dvBitmapMinRows.set(Long.MaxValue)
    try ids(TxLog.read(spark, path)) shouldBe expected
    finally TxLog.dvBitmapMinRows.set(saved)
    // plan shape: the DV application is a codegen'd FILTER over the scan —
    // no join of any kind, no broadcast exchange, no row-level DV relation
    plan should include("graft_dv_alive")
    (plan should not).include("Join")
    (plan should not).include("BroadcastExchange")
    // whole-stage codegen renders as the `*(n)` stage prefix in this
    // format; the filter must sit INSIDE the codegen'd stage
    plan should include("*(1) Filter graft_dv_alive")
    // all three sidecars loaded exactly once; a second read hits the cache
    (graft.functions.DvSidecars.loads.get() - loads0) shouldBe 3L
    withBitmapDvs { ids(TxLog.read(spark, path)) shouldBe expected }
    (graft.functions.DvSidecars.loads.get() - loads0) shouldBe 3L
  }

  test("bitmap DV path: merged vectors, time travel, CDF, writers, and " +
      "column-mapped reads all serve the broadcast twin's rows") {
    val path = freshPath()
    TxLog.init(rows(0 until 300).repartitionByRange(3, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") % 3 === 0, 0L)       // v1
    // second vector on the SAME files: per-file replacement merges
    TxLog.deleteWhereDV(spark, path, col("id") % 7 === 1, 1L)       // v2
    TxLog.updateWhereDV(spark, path, col("id") === 5L,
      Map("payload" -> lit("upd")), 2L)                             // v3
    TxLog.renameColumn(path, "payload", "body", 3L)                 // v4
    def read(asOf: Option[Long]) = TxLog.read(spark, path, asOf)
    val broadcastRows = (None +: (1L to 4L).map(Some(_))).map(v =>
      read(v).collect().map(_.toSeq).sortBy(_.mkString("|")))
    withBitmapDvs {
      graft.functions.DvSidecars.clearCache()
      (None +: (1L to 4L).map(Some(_))).zip(broadcastRows).foreach {
        case (v, want) =>
          read(v).collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe want
      }
      // CDF across the DV versions folds identically under bitmaps
      val feed = TxLog.changes(spark, path, -1L, 3L)
        .select(col("id"), col("_change_type"), col("_commit_version"))
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val twin = {
        val s = TxLog.dvBitmapMinRows.get()
        TxLog.dvBitmapMinRows.set(Long.MaxValue)
        try TxLog.changes(spark, path, -1L, 3L)
          .select(col("id"), col("_change_type"), col("_commit_version"))
          .collect().map(_.toSeq).sortBy(_.mkString("|"))
        finally TxLog.dvBitmapMinRows.set(s)
      }
      feed shouldBe twin
      // a CLASSIC rewriting delete on the bitmap-mode table (writer
      // probe + survivor reads run through the same seam)
      TxLog.deleteWhere(spark, path, col("id") >= 290L, 4L)         // v5
      // and a purge materializes everything back to plain scans
      TxLog.purgeDeletes(spark, path, 5L)                           // v6
    }
    val after = TxLog.read(spark, path)
    after.queryExecution.optimizedPlan.toString should not include "graft_dv_alive"
    ids(after) shouldBe (0L until 290L)
      .filterNot(i => i % 3 == 0 || i % 7 == 1).toArray
    after.filter(col("id") === 5L).select("body").collect()
      .map(_.getString(0)) shouldBe Array("upd")
  }

  test("bitmap threshold boundary: at-or-below stays on the broadcast " +
      "anti-join (the oracle twin is the default for small vectors)") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(2), path)
    TxLog.deleteWhereDV(spark, path, col("id") < 10L, 0L)
    val saved = TxLog.dvBitmapMinRows.get()
    try {
      // the sidecar carries 10 rows: threshold 10 (== upper bound) keeps
      // the broadcast plan; threshold 9 flips to bitmaps
      TxLog.dvBitmapMinRows.set(10L)
      val bc = TxLog.read(spark, path)
      bc.collect().length shouldBe 90
      bc.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
      TxLog.dvBitmapMinRows.set(9L)
      val bm = TxLog.read(spark, path)
      bm.collect().length shouldBe 90
      bm.queryExecution.executedPlan.toString should include("graft_dv_alive")
    } finally TxLog.dvBitmapMinRows.set(saved)
  }

  test("compact, purgeDeletes and the DV writers read with the recorded " +
      "schema after an int -> bigint widening append") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).withColumn("n", col("id").cast("int"))
      .repartition(2), path)                                         // v0: n int
    TxLog.append(rows(100 until 150).withColumn("n", col("id") * 1000000000L)
      .repartition(2), path, 0L)                                     // v1: n bigint
    TxLog.deleteWhereDV(spark, path, col("id") % 10 === 3, 1L)       // v2
    TxLog.updateWhereDV(spark, path, col("id") === 5L,
      Map("payload" -> lit("upd")), 2L)                              // v3
    TxLog.replaceWhereKeysDV(spark, path, Seq(7L).toDF("id"), Seq("id"),
      rows(7 until 8).withColumn("n", lit(-7L)), 3L)                 // v4
    TxLog.mergeDV(spark, path, Seq(9L).toDF("sid"), Seq("id" -> "sid"),
      matched = Seq(TxLog.MergeMatched(None, None)),
      expectedVersion = 4L)                                          // v5
    TxLog.purgeDeletes(spark, path, 5L)                              // v6
    TxLog.compact(spark, path, 6L).version shouldBe 7L               // v7
    val want = (0 until 150).filterNot(i => i % 10 == 3 || i == 9).map { i =>
      (i.toLong, if (i == 5) "upd" else s"v$i",
        if (i == 7) -7L else if (i < 100) i.toLong else i * 1000000000L)
    }
    TxLog.read(spark, path).select("id", "payload", "n")
      .as[(Long, String, Long)].collect().sorted shouldBe want.sorted

    // a metadata-only addColumn: compaction and purge move rows, they do
    // not change the recorded schema or its nullability
    val p2 = freshPath()
    TxLog.init(rows(0 until 40).repartition(2), p2)                  // v0
    TxLog.append(rows(40 until 60), p2, 0L)                          // v1
    TxLog.addColumn(spark, p2, "score",
      org.apache.spark.sql.types.LongType, 1L)                       // v2
    TxLog.deleteWhereDV(spark, p2, col("id") === 3L, 2L)             // v3
    val recorded = TxLog.snapshot(p2).schema
    recorded("id").nullable shouldBe false
    TxLog.purgeDeletes(spark, p2, 3L)                                // v4
    TxLog.compact(spark, p2, 4L).version shouldBe 5L                 // v5
    TxLog.snapshot(p2).schema shouldBe recorded
    val got = TxLog.read(spark, p2)
    got.columns.toSeq shouldBe recorded.fieldNames.toSeq
    got.filter(col("score").isNotNull).count() shouldBe 0L
    ids(got) shouldBe (0 until 60).filterNot(_ == 3).map(_.toLong).toArray
  }
}
