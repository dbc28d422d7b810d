package graft

import graft.gold.TxLog
import org.apache.spark.sql.functions._

/** BATCH access to TxLog tables through the registered `graft-txlog`
  * format (round-12 verdict item 1): `spark.read.format(...)` ≡
  * `TxLog.read` — DV-aware, log schema authoritative, versionAsOf /
  * timestampAsOf options — and SQL over catalog-registered TxLog tables.
  * Plan contracts: a vector-less read is the NATIVE parquet scan (no RDD
  * boundary, prunable); a vectored read EXPANDS (via the injected
  * ExpandTxLogDvScan rule) into the same broadcast LeftAnti plan
  * `TxLog.read` builds; the TableScan fallback stays correct for
  * extension-less sessions.
  */
class TxLogRelationSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txrel").toString + "/t"

  private def rows(r: Range): org.apache.spark.sql.DataFrame =
    r.map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "payload", "grp")

  private def ids(df: org.apache.spark.sql.DataFrame): Array[Long] =
    df.select("id").as[Long].collect().sorted

  private def fmt(path: String) =
    spark.read.format("graft-txlog").option("path", path)

  test("format read == TxLog.read on a plain table; plan is the native parquet scan") {
    val path = freshPath()
    TxLog.init(rows(0 until 300).repartitionByRange(4, col("id")), path)
    TxLog.append(rows(300 until 400), path, 0L)
    val viaFmt = fmt(path).load()
    ids(viaFmt) shouldBe ids(TxLog.read(spark, path))
    viaFmt.schema.fieldNames shouldBe Array("id", "payload", "grp")
    // native file-source plan: parquet scan leaf, no RDD-boundary scan,
    // no join — the zero-overhead claim for vector-less tables
    viaFmt.collect()
    val plan = viaFmt.queryExecution.executedPlan.toString
    plan should include("FileScan parquet")
    (plan should not).include("ExistingRDD")
    (plan should not).include("Join")
    // filter pushdown reaches the scan (the reason the native shape wins)
    val filtered = fmt(path).load().filter(col("id") >= 350L)
    filtered.collect().length shouldBe 50
    filtered.queryExecution.executedPlan.toString should include("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,350)")
  }

  test("format read of a DV'd snapshot: expansion plans the broadcast anti-join, values == TxLog.read") {
    val path = freshPath()
    TxLog.init(rows(0 until 400).repartitionByRange(8, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") % 7 === 3, 0L)
    val viaFmt = fmt(path).load()
    ids(viaFmt) shouldBe ids(TxLog.read(spark, path))
    viaFmt.collect()
    val plan = viaFmt.queryExecution.executedPlan.toString
    // the DV anti-join appears THROUGH the format read (expansion fired;
    // not the opaque TableScan fallback)
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    (plan should not).include("ExistingRDD")
    (plan should not).include("ShuffleExchange")
  }

  test("TableScan fallback (extension-less sessions) serves the same DV'd rows") {
    val path = freshPath()
    TxLog.init(rows(0 until 200).repartitionByRange(4, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") < 50L, 0L)
    val rel = graft.streaming.TxLogRelation.batchRelation(
      spark.sqlContext, Map("path" -> path), None)
    val dv = rel.asInstanceOf[graft.streaming.TxLogDvRelation]
    val got = dv.buildScan().map(_.getLong(0)).collect().sorted
    got shouldBe (50L until 200L).toArray
  }

  test("versionAsOf / timestampAsOf options; mutual exclusion; DV state versioned") {
    val path = freshPath()
    var t = 1000L
    TxLog.usingClock(() => { t += 60000L; t }) {
      TxLog.init(rows(0 until 100).repartitionByRange(2, col("id")), path) // v0 @ 61000
      TxLog.append(rows(100 until 200), path, 0L)                          // v1 @ 121000
      TxLog.deleteWhereDV(spark, path, col("id") < 10L, 1L)                // v2 @ 181000
    }
    ids(fmt(path).option("versionAsOf", "1").load()) shouldBe
      (0L until 200L).toArray
    ids(fmt(path).option("versionAsOf", "2").load()) shouldBe
      (10L until 200L).toArray
    // timestamp between v1 and v2 resolves to v1
    ids(fmt(path).option("timestampAsOf", "150000").load()) shouldBe
      (0L until 200L).toArray
    ids(fmt(path).option("timestampAsOf", "181000").load()) shouldBe
      (10L until 200L).toArray
    // wall-clock literal form (UTC): 181000 ms = 1970-01-01 00:03:01
    ids(fmt(path).option("timestampAsOf", "1970-01-01 00:03:01").load()) shouldBe
      (10L until 200L).toArray
    val e = intercept[IllegalArgumentException] {
      fmt(path).option("versionAsOf", "1")
        .option("timestampAsOf", "150000").load()
    }
    e.getMessage should include("mutually exclusive")
  }

  test("SQL over a catalog-registered TxLog table; schema evolution refuses with guidance") {
    val path = freshPath()
    TxLog.init(rows(0 until 150).repartitionByRange(2, col("id")), path)
    TxLog.deleteWhereDV(spark, path, col("id") % 3 === 0, 0L)
    spark.sql("DROP TABLE IF EXISTS txrel_cat")
    spark.sql(s"CREATE TABLE txrel_cat USING `graft-txlog` OPTIONS (path '$path')")
    try {
      val viaSql = spark.sql(
        "SELECT grp, count(*) AS cnt FROM txrel_cat GROUP BY grp")
      val direct = TxLog.read(spark, path)
        .groupBy("grp").agg(count(lit(1)).as("cnt"))
      viaSql.collect().map(r => (r.getInt(0), r.getLong(1))).sorted shouldBe
        direct.collect().map(r => (r.getInt(0), r.getLong(1))).sorted
      // Spark caches the resolved relation per catalog table (standard
      // V1 behavior): after an EXTERNAL commit, REFRESH TABLE re-resolves
      // to the new snapshot — the same contract every file-source catalog
      // table has
      TxLog.append(rows(150 until 180), path, 1L)
      spark.sql("REFRESH TABLE txrel_cat")
      spark.sql("SELECT count(*) AS n FROM txrel_cat").head().getLong(0) shouldBe
        TxLog.read(spark, path).count()
      // WIDEN the table: the pinned catalog schema is now stale - the
      // read must refuse loudly (serving it would drop the new column)
      TxLog.append(rows(180 until 190).withColumn("extra", lit(1L)), path, 2L)
      spark.sql("REFRESH TABLE txrel_cat")
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM txrel_cat").collect()
      }
      e.getMessage should include("re-register")
      // re-registration serves the evolved schema
      spark.sql("DROP TABLE txrel_cat")
      spark.sql(s"CREATE TABLE txrel_cat USING `graft-txlog` OPTIONS (path '$path')")
      val evolved = spark.sql("SELECT id, extra FROM txrel_cat WHERE extra IS NOT NULL")
      evolved.collect().length shouldBe 10
    } finally spark.sql("DROP TABLE IF EXISTS txrel_cat")
  }

  test("batch WRITE through the format: create / append / overwrite / refuse / ignore") {
    val path = freshPath()
    def w(r: Range) = rows(r).write.format("graft-txlog").option("path", path)
    // absent table: any mode creates it
    w(0 until 50).mode("errorifexists").save()
    TxLog.currentVersion(path) shouldBe Some(0L)
    // append commits an ACID append
    w(50 until 80).mode("append").save()
    ids(TxLog.read(spark, path)) shouldBe (0L until 80L).toArray
    TxLog.commitInfos(path).head.operation shouldBe Some("APPEND")
    // ErrorIfExists refuses an existing table; Ignore no-ops
    intercept[IllegalArgumentException] { w(0 until 5).mode("errorifexists").save() }
    w(0 until 5).mode("ignore").save()
    TxLog.currentVersion(path) shouldBe Some(1L)
    // overwrite replaces everything in ONE commit; DVs clear with files
    TxLog.deleteWhereDV(spark, path, col("id") < 10L, 1L)
    w(1000 until 1020).mode("overwrite").save()
    ids(TxLog.read(spark, path)) shouldBe (1000L until 1020L).toArray
    TxLog.snapshot(path).dvs shouldBe empty
    TxLog.commitInfos(path).head.operation shouldBe Some("OVERWRITE")
    // time travel below the overwrite still serves the old content
    ids(TxLog.read(spark, path, asOf = Some(2L))) shouldBe
      (10L until 80L).toArray
    // CTAS: CREATE TABLE ... USING graft-txlog AS SELECT
    val path2 = freshPath()
    spark.sql("DROP TABLE IF EXISTS txrel_ctas")
    try {
      rows(0 until 30).createOrReplaceTempView("txrel_ctas_src")
      spark.sql(s"CREATE TABLE txrel_ctas USING `graft-txlog` " +
        s"OPTIONS (path '$path2') AS SELECT * FROM txrel_ctas_src")
      TxLog.currentVersion(path2) shouldBe Some(0L)
      spark.sql("SELECT count(*) FROM txrel_ctas").head().getLong(0) shouldBe 30L
    } finally spark.sql("DROP TABLE IF EXISTS txrel_ctas")
  }

  test("batch CDF relation == TxLog.changes; expansion plans the native union; fallback correct") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartitionByRange(2, col("id")), path)
    TxLog.append(rows(100 until 150), path, 0L)
    TxLog.deleteWhere(spark, path, col("id") % 5 === 2, 1L)
    TxLog.deleteWhereDV(spark, path, col("id") % 7 === 3, 2L)
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.select(col("id"), col("_change_type"), col("_commit_version"))
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}")
        .sorted
    val viaFmt = spark.read.format("graft-txlog-cdf").option("path", path).load()
    canon(viaFmt) shouldBe canon(TxLog.changes(spark, path, -1L, 3L))
    viaFmt.collect()
    (viaFmt.queryExecution.executedPlan.toString should not).include("ExistingRDD")
    // version-bounded range (inclusive both ends, Delta's contract)
    val ranged = spark.read.format("graft-txlog-cdf").option("path", path)
      .option("startingVersion", "2").option("endingVersion", "3").load()
    canon(ranged) shouldBe canon(TxLog.changes(spark, path, 1L, 3L))
    // the TableScan fallback serves identical rows
    val rel = graft.streaming.TxLogCdfRelation.batchRelation(
      spark.sqlContext, Map("path" -> path))
      .asInstanceOf[graft.streaming.TxLogCdfRelation]
    rel.buildScan().count() shouldBe viaFmt.count()
    // out-of-range endingVersion refuses
    intercept[IllegalArgumentException] {
      spark.read.format("graft-txlog-cdf").option("path", path)
        .option("endingVersion", "9").load()
    }
  }

  test("SQL over a catalog-registered change feed (CREATE TABLE ... USING graft-txlog-cdf)") {
    val path = freshPath()
    TxLog.init(rows(0 until 60), path)
    TxLog.append(rows(60 until 100), path, 0L)
    TxLog.deleteWhereDV(spark, path, col("id") % 4 === 1, 1L)
    spark.sql("DROP TABLE IF EXISTS txrel_cdf_cat")
    try {
      spark.sql(s"CREATE TABLE txrel_cdf_cat USING `graft-txlog-cdf` " +
        s"OPTIONS (path '$path')")
      val got = spark.sql(
        """SELECT _change_type, _commit_version, count(*) AS n
          |FROM txrel_cdf_cat GROUP BY 1, 2""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      got shouldBe Array(("delete", 2L, 25L), ("insert", 0L, 60L),
        ("insert", 1L, 40L))
    } finally spark.sql("DROP TABLE IF EXISTS txrel_cdf_cat")
  }

  test("batch CDF timestamp bounds: starting=first-at-or-after, ending=newest-at-or-before") {
    val path = freshPath()
    var t = 0L
    TxLog.usingClock(() => { t += 100000L; t }) {
      TxLog.init(rows(0 until 50), path)              // v0 @ 100000
      TxLog.append(rows(50 until 80), path, 0L)       // v1 @ 200000
      TxLog.deleteWhere(spark, path, col("id") < 10L, 1L) // v2 @ 300000
      TxLog.append(rows(80 until 90), path, 2L)       // v3 @ 400000
    }
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.select(col("id"), col("_change_type"), col("_commit_version"))
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}")
        .sorted
    // [150000, 310000] covers versions 1..2 exactly
    val ts = spark.read.format("graft-txlog-cdf").option("path", path)
      .option("startingTimestamp", "150000")
      .option("endingTimestamp", "310000").load()
    canon(ts) shouldBe canon(TxLog.changes(spark, path, 0L, 2L))
    // mixing version and timestamp bounds on ONE side refuses
    intercept[IllegalArgumentException] {
      spark.read.format("graft-txlog-cdf").option("path", path)
        .option("startingVersion", "1")
        .option("startingTimestamp", "150000").load()
    }.getMessage should include("mutually exclusive")
  }

  test("startingTimestamp floors a fresh stream at the first commit at-or-after the instant") {
    val path = freshPath()
    var t = 0L
    TxLog.usingClock(() => { t += 100000L; t }) {
      TxLog.init(rows(0 until 10), path)        // v0 @ 100000
      TxLog.append(rows(10 until 20), path, 0L) // v1 @ 200000
      TxLog.append(rows(20 until 30), path, 1L) // v2 @ 300000
    }
    TxLog.firstVersionAtOrAfter(path, 100000L) shouldBe 0L
    TxLog.firstVersionAtOrAfter(path, 150000L) shouldBe 1L
    TxLog.firstVersionAtOrAfter(path, 300000L) shouldBe 2L
    intercept[IllegalArgumentException] {
      TxLog.firstVersionAtOrAfter(path, 300001L)
    }.getMessage should include("after the latest")
    val work = java.nio.file.Files.createTempDirectory("txrelst").toString
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", 4)
    val q = child.readStream.format("graft-txlog").option("path", path)
      .option("startingTimestamp", "150000").load()
      .writeStream.format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(s"$work/out").select("id").as[Long].collect()
      .sorted shouldBe (10L until 30L).toArray
  }

  test("format reads auto-prune through the log's file stats") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = freshPath()
    TxLog.init((0 until 800).map(i => (i.toLong, s"r$i")).toDF("id", "payload")
      .repartitionByRange(8, col("id")), path)
    val total = TxLog.snapshot(path).files.size
    // the native relation the format builds lists its files from the
    // snapshot through the TxLog file index, which skips by stats
    val pruned = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("id") >= 100L && col("id") <= 199L)
    pruned.select("id").as[Long].collect().sorted shouldBe (100L to 199L).toArray
    val counts = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
    }
    counts should not be empty
    counts.foreach(_ should be < total.toLong)
    // explain names the index and the snapshot's files; the index itself
    // prints the table, the version and the file count
    val explained = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    explained should include("Location: TxLogFileIndex")
    explained should include(s"($total paths)")
    pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f.relation.location.toString
    } shouldBe Some(s"TxLogFileIndex[$path@v0, $total files]")
  }

  test("SQL INSERT INTO / INSERT OVERWRITE commit through the log (InsertableRelation seam)") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path)
    spark.sql("DROP TABLE IF EXISTS ins_t")
    spark.sql(s"CREATE TABLE ins_t USING `graft-txlog` OPTIONS (path '$path')")
    spark.sql("INSERT INTO ins_t VALUES (100, 'sql-row', 1)")
    // the insert is an ACID commit, not a bare file write: the log
    // advanced, and the SELECT sees it WITHOUT a manual REFRESH TABLE
    TxLog.currentVersion(path) shouldBe Some(1L)
    TxLog.commitInfos(path).head.operation shouldBe Some("APPEND")
    spark.sql("SELECT count(*) FROM ins_t").head().getLong(0) shouldBe 51L
    TxLog.read(spark, path).count() shouldBe 51L
    // INSERT OVERWRITE = one OVERWRITE commit; history keeps the past
    spark.sql("INSERT OVERWRITE ins_t VALUES (7, 'only', 0)")
    spark.sql("SELECT count(*) FROM ins_t").head().getLong(0) shouldBe 1L
    TxLog.read(spark, path, asOf = Some(1L)).count() shouldBe 51L
    spark.sql("DROP TABLE ins_t")
  }

  test("SQL INSERT respects constraints and partitioning; DV'd tables insert too") {
    val path = freshPath()
    TxLog.init(rows(0 until 40).repartition(2), path)
    TxLog.addConstraint(spark, path, "id_nonneg", "id >= 0", 0L)
    TxLog.deleteWhereDV(spark, path, col("id") % 7 === 0L, 1L)
    spark.sql("DROP TABLE IF EXISTS ins_dv")
    spark.sql(s"CREATE TABLE ins_dv USING `graft-txlog` OPTIONS (path '$path')")
    // constraint gates the SQL insert atomically
    intercept[Exception] {
      spark.sql("INSERT INTO ins_dv VALUES (-3, 'bad', 0)")
    }.getMessage should include("id_nonneg")
    TxLog.currentVersion(path) shouldBe Some(2L)
    // a DV'd snapshot's relation (the placeholder) inserts through the
    // same seam
    spark.sql("INSERT INTO ins_dv VALUES (200, 'ok', 3)")
    spark.sql("SELECT count(*) FROM ins_dv").head().getLong(0) shouldBe
      (40L - rows(0 until 40).filter(col("id") % 7 === 0L).count() + 1L)
    spark.sql("DROP TABLE ins_dv")

    // partitioned table: the partition column must be present — SQL
    // inserts align by POSITION to the table schema, so a full-width
    // insert carries it; the commit records its partition values
    val ppath = freshPath()
    TxLog.init(rows(0 until 30), ppath, partitionBy = Seq("grp"))
    spark.sql("DROP TABLE IF EXISTS ins_part")
    spark.sql(s"CREATE TABLE ins_part USING `graft-txlog` OPTIONS (path '$ppath')")
    spark.sql("INSERT INTO ins_part VALUES (300, 'p-row', 2)")
    val snap = TxLog.snapshot(ppath)
    snap.files.foreach(f => snap.stats(f).parts.size shouldBe 1)
    TxLog.readPartitions(spark, ppath, col("grp") === 2)
      .filter(col("id") === 300L).count() shouldBe 1L
    spark.sql("DROP TABLE ins_part")
  }

  test("catalog SELECT on a vector-less table still plans the NATIVE scan (expansion, not the RDD fallback)") {
    val path = freshPath()
    TxLog.init(rows(0 until 100).repartition(2), path)
    spark.sql("DROP TABLE IF EXISTS plan_canary_t")
    spark.sql(
      s"CREATE TABLE plan_canary_t USING `graft-txlog` OPTIONS (path '$path')")
    val df = spark.sql(
      "SELECT grp, count(*) AS c FROM plan_canary_t GROUP BY grp")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the placeholder expanded to the ordinary parquet scan — catalog
    // tables pay ZERO plan overhead in a graft session despite serving
    // the insertable placeholder relation
    plan should include("FileScan parquet")
    (plan should not).include("ExistingRDD")
    spark.sql("DROP TABLE plan_canary_t")
  }

  test("INSERT into a time-traveled catalog table refuses: frozen views are read-only") {
    val path = freshPath()
    TxLog.init(rows(0 until 30), path)
    TxLog.append(rows(30 until 60), path, 0L)
    spark.sql("DROP TABLE IF EXISTS frozen_t")
    spark.sql(s"CREATE TABLE frozen_t USING `graft-txlog` " +
      s"OPTIONS (path '$path', versionAsOf '0')")
    spark.sql("SELECT count(*) FROM frozen_t").head().getLong(0) shouldBe 30L
    val e = intercept[Exception] {
      spark.sql("INSERT INTO frozen_t VALUES (999, 'x', 0)")
    }
    e.getMessage should include("frozen view")
    TxLog.currentVersion(path) shouldBe Some(1L) // nothing committed
    spark.sql("DROP TABLE frozen_t")
  }

  test("empty (delete-all) version serves a schema-correct empty frame through the format") {
    val path = freshPath()
    TxLog.init(rows(0 until 50), path)
    TxLog.deleteWhere(spark, path, lit(true), 0L)
    val df = fmt(path).load()
    df.schema.fieldNames shouldBe Array("id", "payload", "grp")
    df.count() shouldBe 0L
  }
}
