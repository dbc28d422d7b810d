package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.runner.{MedallionPipeline, Pipeline}

class MedallionPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def writeFixtures(dir: String): Unit = {
    def w(name: String, content: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), content.stripMargin)

    // users: U001 duplicated (later ingest wins is trivial here — same file —
    // so dedup exercises signup/country tiebreaks), bad country, null name,
    // multiline quoted field
    w("users.csv",
      """Id,UserName,RegisterDate,Country
        |U001,alice,2023-01-01 00:00:00,US
        |U001,alice,2023-06-01 00:00:00,CA
        |U002,"bob
        |the builder",2023-02-02 00:00:00,UK
        |U003,carol,2023-03-03 00:00:00,USA
        |U004,,2023-04-04 00:00:00,DE
        |U005,eve,bad-timestamp,FR
        |""")
    w("datasets.csv",
      """Id,Title,Subtitle,CreatorUserId,TotalViews,TotalDownloads,CreationDate,LastUpdatedDate,Type,IsPrivate
        |D001,First,,U001,100,10,2023-01-01 00:00:00,2023-02-01 00:00:00,tabular,TRUE
        |D002,Second,,U002,200,0,2023-01-05 00:00:00,2023-01-06 00:00:00,image,FALSE
        |D003,Third,,U999,50,5,2023-01-07 00:00:00,2023-01-08 00:00:00,text,maybe
        |D004,,  ,U001,10,1,2023-01-09 00:00:00,2023-01-10 00:00:00,tabular,FALSE
        |D005,Fifth,,U001,-3,1,2023-01-11 00:00:00,2023-01-12 00:00:00,tabular,FALSE
        |D006,Backwards,,U002,5,1,2023-03-01 00:00:00,2023-02-01 00:00:00,tabular,FALSE
        |D007,Corrupt,,U001,N/A,1,2023-01-13 00:00:00,2023-01-14 00:00:00,tabular,FALSE
        |""")
    w("competitions.csv",
      """Id,Title,Category,StartDate,Deadline,PrizeMoney
        |C001,Comp A,vision,2023-01-01 00:00:00,2023-06-01 00:00:00,10000
        |C002,Comp B,nlp,2023-07-01 00:00:00,2023-03-01 00:00:00,5000
        |""")
    w("tags.csv",
      """DatasetId,Tags
        |D001,"[""Machine Learning"",""nlp""]"
        |D002,"[""  CV  ""]"
        |D003,"[""orphan-但-filtered""]"
        |""")
    w("kernels.csv",
      """Id,AuthorUserId,Title,CreationDate,LastUpdatedDate
        |K001,U001,Starter,2023-01-01 00:00:00,2023-01-02 00:00:00
        |K002,U002,Advanced,2023-01-03 00:00:00,2023-01-04 00:00:00
        |""")
  }

  test("full medallion run: DAG order, rejects, SCD2 dim, fact invariants") {
    val raw = Files.createTempDirectory("graft_raw").toString
    val out = Files.createTempDirectory("graft_out").toString
    writeFixtures(raw)

    val p = MedallionPipeline(spark, raw, out, runDate = "2024-06-01",
      ingestTs = "2024-06-01 02:00:00", pipelineRunId = "test-run-1",
      maxRejectRate = 0.7)
    val report = p.run()
    withClue(report.toString + "\n") { report.succeeded shouldBe true }

    // bronze rejects carry reasons
    val rejects = spark.read.parquet(s"$out/_rejects/users/run_date=2024-06-01")
    rejects.select("reject_reason").as[String].collect().toSet shouldBe
      Set("country_code_bad_length", "user_name_is_null")

    // malformed numeric cell is REJECTED, not silently nulled to 0
    val dsRejects = spark.read.parquet(s"$out/_rejects/datasets/run_date=2024-06-01")
    dsRejects.filter($"dataset_id" === "D007")
      .select("reject_reason").as[String].head() shouldBe "total_views_not_numeric"

    // multiline quoted field survived CSV parse
    val bronzeUsers = spark.read.parquet(s"$out/bronze/users/run_date=2024-06-01")
    bronzeUsers.filter($"user_id" === "U002").select("user_name").as[String].head() should
      include("\n")

    // silver dedup: one row per user
    val silverUsers = spark.read.parquet(s"$out/silver/users/run_date=2024-06-01")
    silverUsers.groupBy("user_id").count().filter($"count" > 1).count() shouldBe 0

    // datasets: enrichment fallback for dangling owner U999
    val silverDs = spark.read.parquet(s"$out/silver/datasets/run_date=2024-06-01")
    silverDs.filter($"owner_user_id" === "U999").select("user_name").as[String].head() shouldBe
      "Unknown"

    // dim_user: unknown member + exactly one current per user
    val dim = spark.read.parquet(s"$out/gold/dim_user")
    dim.filter($"user_sk" === 0).count() shouldBe 1
    dim.filter($"user_sk" =!= 0).groupBy("user_id")
      .agg(sum(when($"is_current", 1).otherwise(0)).as("n"))
      .filter($"n" =!= 1).count() shouldBe 0

    // fact invariant: total = private + public, all SKs resolve or are 0
    // (non-emptiness first — a zero-count invariant is vacuous on an
    // empty fact)
    val fact = spark.read.parquet(s"$out/gold/fact_dataset_owner_daily")
    fact.count() should be > 0L
    fact.filter($"datasets_count" =!= $"private_datasets_count" + $"public_datasets_count")
      .count() shouldBe 0

    // tags: orphan D003 filtered out by the filtering join iff D003 rejected…
    val silverTags = spark.read.parquet(s"$out/silver/tags/run_date=2024-06-01")
    val keptIds = silverTags.select("dataset_id").distinct().as[String].collect().toSet
    val dsIds = silverDs.select("dataset_id").as[String].collect().toSet
    keptIds.subsetOf(dsIds) shouldBe true

    // full star schema materialized: 4 dims + bridge + 3 facts
    val dsDim = spark.read.parquet(s"$out/gold/dim_dataset")
    dsDim.groupBy("dataset_id")
      .agg(sum(when($"is_current", 1).otherwise(0)).as("n"))
      .filter($"n" =!= 1).count() shouldBe 0
    // C002 (deadline before start) is rejected at bronze → one competition survives
    spark.read.parquet(s"$out/gold/dim_competition").count() shouldBe 1L
    val tagDim = spark.read.parquet(s"$out/gold/dim_tag")
    tagDim.select("tag").distinct().count() shouldBe tagDim.count()
    val bridge = spark.read.parquet(s"$out/gold/bridge_dataset_tag")
    bridge.count() should be >= 1L
    val compYearly = spark.read.parquet(s"$out/gold/fact_competitions_yearly")
    compYearly.count() should be > 0L
    compYearly.filter($"competitions_count" < $"active_competitions_count")
      .count() shouldBe 0
    val tagUsage = spark.read.parquet(s"$out/gold/fact_tag_usage_daily")
    tagUsage.count() should be > 0L
    tagUsage.filter($"usage_count" < $"new_usage_count").count() shouldBe 0

    // bronze_summary.json report: parseable, five tables, sane overall rate
    val reportDf = spark.read
      .option("multiLine", "true")
      .json(s"$out/_reports/run_date=2024-06-01/bronze_summary.json")
    reportDf.count() shouldBe 1
    val rep = reportDf.head()
    rep.getAs[String]("run_date") shouldBe "2024-06-01"
    rep.getAs[Seq[org.apache.spark.sql.Row]]("tables").size shouldBe 5
    rep.getAs[Double]("overall_rejection_rate") should (be >= 0.0 and be <= 0.7)
  }

  test("layer reads take the writer's schema: no inference job, equal to inference") {
    val raw = Files.createTempDirectory("graft_raw_schema").toString
    val out = Files.createTempDirectory("graft_out_schema").toString
    writeFixtures(raw)
    val p = MedallionPipeline(spark, raw, out, runDate = "2024-06-01",
      ingestTs = "2024-06-01 02:00:00", pipelineRunId = "schema-run",
      maxRejectRate = 0.7)
    var report: Pipeline.Report = null
    val jobs = jobsStarted { report = p.run() }
    withClue(report.toString + "\n") { report.succeeded shouldBe true }
    jobs should not be empty
    // the pipeline wrote every table it reads, so none is inferred
    parquetInferenceSites(jobs) shouldBe empty

    // each table read with its recorded schema is typed exactly as a fresh
    // inference types it: nullability, field metadata, and the facts'
    // discovered run_date partition column
    val layered = Seq("bronze", "_rejects", "silver").flatMap(layer =>
      Seq("users", "datasets", "competitions", "tags", "kernels")
        .map(t => s"$out/$layer/$t/run_date=2024-06-01"))
    val gold = Seq("dim_user", "dim_date", "dim_dataset", "dim_competition",
      "dim_tag", "bridge_dataset_tag", "fact_competitions_yearly",
      "fact_tag_usage_daily", "fact_dataset_owner_daily").map(t => s"$out/gold/$t")
    (layered ++ gold).foreach { path =>
      val recorded = p.read(path).schema
      val inferred = spark.read.parquet(path).schema
      withClue(s"$path\n") {
        recorded shouldBe inferred
        recorded.map(_.metadata) shouldBe inferred.map(_.metadata)
      }
    }
    Seq("fact_competitions_yearly", "fact_tag_usage_daily", "fact_dataset_owner_daily")
      .foreach { t =>
        p.read(s"$out/gold/$t").schema.last shouldBe
          org.apache.spark.sql.types.StructField("run_date",
            org.apache.spark.sql.types.DateType)
      }
  }

  test("a layer read before its writer ran fails named and reads nothing") {
    val raw = Files.createTempDirectory("graft_raw_order").toString
    val out = Files.createTempDirectory("graft_out_order").toString
    writeFixtures(raw)
    def pipeline(id: String) = MedallionPipeline(spark, raw, out,
      runDate = "2024-06-01", ingestTs = "2024-06-01 02:00:00",
      pipelineRunId = id, maxRejectRate = 0.7)
    pipeline("earlier-run").run().succeeded shouldBe true
    // a fresh run whose task lost its writer: the earlier run's tables are
    // on disk, and must not be read in place of this run's
    val fresh = pipeline("fresh-run").tasks.map(t => t.name -> t).toMap
    Seq("silver_users" -> s"$out/bronze/users/run_date=2024-06-01",
      "gold_validate" -> s"$out/gold/fact_dataset_owner_daily").foreach {
      case (task, firstRead) =>
        var err: Throwable = null
        val jobs = jobsStarted {
          err = intercept[IllegalStateException](fresh(task).body())
        }
        err.getMessage shouldBe s"read of $firstRead before its writer ran"
        jobs shouldBe empty
    }
  }

  /** Runs `body`, returning whether it succeeded and how many classes
    * Janino compiled meanwhile. */
  private def compiling(body: => Boolean): (Boolean, Long) = {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val k0 = compiled
    val ok = body
    (ok, compiled - k0)
  }

  /** Empties Spark's JVM-wide codegen cache, so the next run starts cold
    * whatever other specs in this JVM compiled before. */
  private def clearCodegenCache(): Unit = {
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator) // private[spark] type
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("idempotent re-run + backfill: per-run_date partitions are independent") {
    val raw = Files.createTempDirectory("graft_raw2").toString
    val out = Files.createTempDirectory("graft_out2").toString
    writeFixtures(raw)
    val p = MedallionPipeline(spark, raw, out, "2024-06-01",
      "2024-06-01 02:00:00", "run-a", maxRejectRate = 0.7)
    clearCodegenCache()
    val (ok1, c1) = compiling(p.run().succeeded)
    ok1 shouldBe true
    val n1 = spark.read.parquet(s"$out/gold/fact_dataset_owner_daily").count()
    n1 should be > 0L // 0==0 idempotency would be vacuous
    val (ok2, c2) = compiling(p.run().succeeded)
    ok2 shouldBe true
    val n2 = spark.read.parquet(s"$out/gold/fact_dataset_owner_daily").count()
    n2 shouldBe n1

    // backfill a second run_date: dynamic overwrite adds a partition
    // without touching the first
    val p2 = MedallionPipeline(spark, raw, out, "2024-06-02",
      "2024-06-02 02:00:00", "run-b", maxRejectRate = 0.7)
    val (ok3, c3) = compiling(p2.run().succeeded)
    ok3 shouldBe true

    // a repeated DAG reuses its compiled classes (GraftSession sizes the
    // codegen cache above the DAG's working set); a new run_date only
    // re-compiles the classes that fold its date literal
    withClue(s"classes compiled per run: first $c1, re-run $c2, new date $c3\n") {
      c1 should be > 100L // more than Spark's default 100-entry cache
      c2.toDouble should be <= 0.05 * c1
      c3.toDouble should be <= 0.25 * c1
    }

    val fact = spark.read.parquet(s"$out/gold/fact_dataset_owner_daily")
    fact.select("run_date").distinct().as[String].collect().sorted shouldBe
      Array("2024-06-01", "2024-06-02")
    fact.filter($"run_date" === "2024-06-01").count() shouldBe n1
  }

  /** Per-directory multiset of file-content MD5s (part names carry write
    * UUIDs, so identity is content-per-directory, not names): the state
    * fingerprint the byte-identical-re-backfill property compares.
    */
  private def layerDigest(root: String): Map[String, Seq[String]] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Map.empty[String, List[String]]
    java.nio.file.Files.walk(base).forEach { p =>
      val f = p.toFile
      if (f.isFile && !f.getName.endsWith(".crc")) {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        val dir = base.relativize(p.getParent).toString
        out(dir) = md5 :: out.getOrElse(dir, Nil)
      }
    }
    out.view.mapValues(_.sorted).toMap
  }

  test("backfill runFor: multi-date catchup; second backfill is a byte-identical no-op") {
    val out = Files.createTempDirectory("graft_backfill").toString
    val raw = SparkEntry.BackfillFixtureDir
    val dates = Seq("2024-06-01", "2024-06-02")

    an[IllegalArgumentException] should be thrownBy
      MedallionPipeline.runFor(spark, raw, out, dates.reverse)

    val r1 = MedallionPipeline.runFor(spark, raw, out, dates,
      catalogDb = Some("graft_wh"))
    withClue(r1.flatMap(_.failed).map(f =>
      s"${f.name}: ${f.status.asInstanceOf[Pipeline.Failed].error}")
      .mkString("\n") + "\n") {
      r1.size shouldBe 2
      r1.foreach(_.succeeded shouldBe true)
    }

    // Glue-crawler equivalent: every layer queryable through the CATALOG,
    // with run_date partitions discovered across the whole backfill
    val catFact = spark.table("graft_wh.gold_fact_competitions_yearly")
    catFact.count() shouldBe
      spark.read.parquet(s"$out/gold/fact_competitions_yearly").count()
    catFact.select("run_date").distinct().as[String].collect().sorted shouldBe
      dates.toArray
    spark.table("graft_wh.bronze_users")
      .select("run_date").distinct().count() shouldBe 2L
    spark.table("graft_wh.silver_datasets").count() should be > 0L
    spark.table("graft_wh.gold_dim_user").count() should be > 0L
    val fact = spark.read.parquet(s"$out/gold/fact_competitions_yearly")
    fact.select("run_date").distinct().as[String].collect().sorted shouldBe
      dates.toArray
    // C001's deadline falls between the two run dates: each partition must
    // carry its OWN active cutoff (a clobbered or copied partition would
    // show identical counts)
    val active = fact.filter($"year" === 2023)
      .select("run_date", "active_competitions_count").as[(String, Long)]
      .collect().toMap
    active shouldBe Map("2024-06-01" -> 2L, "2024-06-02" -> 1L)

    val d1 = layerDigest(out)
    val r2 = MedallionPipeline.runFor(spark, raw, out, dates)
    r2.foreach(_.succeeded shouldBe true)
    layerDigest(out) shouldBe d1
  }

  test("missing source file fails fast with the full missing list") {
    val raw = Files.createTempDirectory("graft_raw3").toString
    val out = Files.createTempDirectory("graft_out3").toString
    writeFixtures(raw)
    new java.io.File(s"$raw/kernels.csv").delete()
    new java.io.File(s"$raw/tags.csv").delete()
    val report = MedallionPipeline(spark, raw, out, "2024-06-01",
      "2024-06-01 02:00:00", "run-x", maxRejectRate = 0.7).run()
    report.succeeded shouldBe false
    // every task after check_sources is skipped — nothing was written
    report.results.count(_.status == Pipeline.Succeeded) shouldBe 0
    val err = report.failed.head.status.asInstanceOf[Pipeline.Failed].error.getMessage
    err should (include("kernels.csv") and include("tags.csv"))
  }

  test("file sensor waits for late sources and times out loudly") {
    val raw = Files.createTempDirectory("graft_raw_sensor").toString
    val out = Files.createTempDirectory("graft_out_sensor").toString
    writeFixtures(raw)
    val late = new java.io.File(s"$raw/kernels.csv")
    val lateBytes = java.nio.file.Files.readAllBytes(late.toPath)
    late.delete()
    val p = MedallionPipeline(spark, raw, out, "2024-06-01",
      "2024-06-01 02:00:00", "sensor-run", maxRejectRate = 0.7)
    // timeout path: file never appears
    val e = intercept[java.util.concurrent.TimeoutException] {
      p.waitForSources(timeoutMs = 300L, pollMs = 50L)
    }
    e.getMessage should include("kernels.csv")
    // wait-then-appear path: restore the file from another thread
    val writer = new Thread(() => {
      Thread.sleep(200L)
      java.nio.file.Files.write(late.toPath, lateBytes)
    })
    writer.start()
    p.waitForSources(timeoutMs = 5000L, pollMs = 50L) // must not throw
    writer.join()
  }

  test("DAG runner: failure skips dependents, independent tasks still run") {
    var ran = Vector.empty[String]
    val report = Pipeline.run(Seq(
      Pipeline.Task("a")(() => ran :+= "a"),
      Pipeline.Task("b", Seq("a"))(() => throw new RuntimeException("boom")),
      Pipeline.Task("c", Seq("b"))(() => ran :+= "c"),
      Pipeline.Task("d", Seq("a"))(() => ran :+= "d")
    ))
    ran shouldBe Vector("a", "d")
    report.succeeded shouldBe false
    report.results.map(r => r.name -> r.status.getClass.getSimpleName).toMap shouldBe Map(
      "a" -> "Succeeded$", "b" -> "Failed", "c" -> "Skipped", "d" -> "Succeeded$")
  }

  test("parallel DAG runner: same skip semantics, topo-ordered report, deps precede dependents") {
    // failure semantics identical to sequential, report in declaration order
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val report = Pipeline.run(Seq(
      Pipeline.Task("a")(() => { ran.add("a"); () }),
      Pipeline.Task("b", Seq("a"))(() => throw new RuntimeException("boom")),
      Pipeline.Task("c", Seq("b"))(() => { ran.add("c"); () }),
      Pipeline.Task("d", Seq("a"))(() => { ran.add("d"); () })
    ), parallelism = 4)
    ran.toArray.toSet shouldBe Set("a", "d")
    report.succeeded shouldBe false
    // Kahn level order with declaration tiebreak: {a}, {b, d}, {c}
    report.results.map(_.name) shouldBe Seq("a", "b", "d", "c")
    report.results.map(r => r.name -> r.status.getClass.getSimpleName).toMap shouldBe Map(
      "a" -> "Succeeded$", "b" -> "Failed", "c" -> "Skipped", "d" -> "Succeeded$")
    // a dependency COMPLETES before its dependent STARTS (happens-before
    // through the scheduler), proven over a diamond with recorded times
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ok = Pipeline.run(Seq(
      Pipeline.Task("src")(() => { order.add("src.end"); () }),
      Pipeline.Task("l", Seq("src"))(() => { order.add("l.start"); Thread.sleep(30); () }),
      Pipeline.Task("r", Seq("src"))(() => { order.add("r.start"); Thread.sleep(5); () }),
      Pipeline.Task("join", Seq("l", "r"))(() => { order.add("join.start"); () })
    ), parallelism = 4)
    ok.succeeded shouldBe true
    val seq = order.toArray.map(_.toString).toSeq
    seq.head shouldBe "src.end"
    seq.indexOf("join.start") shouldBe (seq.size - 1)
  }

  test("retries re-run the body; failure fires task + run alerts through the sink") {
    var attempts = 0
    val sink = new graft.runner.Alerts.CollectingSink
    // succeeds on the 3rd attempt (retries = 2)
    val ok = Pipeline.run(Seq(
      Pipeline.Task("flaky", retries = 2)(() => {
        attempts += 1
        if (attempts < 3) throw new RuntimeException("transient")
      })), Some(sink), "p")
    attempts shouldBe 3
    ok.succeeded shouldBe true
    sink.alerts shouldBe empty // success after retry: no alert

    val bad = Pipeline.run(Seq(
      Pipeline.Task("a")(() => ()),
      Pipeline.Task("boom", Seq("a"), retries = 1)(() =>
        throw new RuntimeException("hard")),
      Pipeline.Task("c", Seq("boom"))(() => ())), Some(sink), "p")
    bad.succeeded shouldBe false
    sink.alerts.map(a => (a.severity, a.task)) shouldBe Seq(
      ("task_failed", "boom"), ("run_failed", ""))
    sink.alerts.head.message should include("hard")
  }

  test("retry attempts are spaced by bounded backoff, not hammered back-to-back") {
    var attempts = 0
    val t0 = System.nanoTime()
    Pipeline.run(Seq(Pipeline.Task("flaky", retries = 2)(() => {
      attempts += 1
      if (attempts < 3) throw new RuntimeException("transient")
    }))).succeeded shouldBe true
    attempts shouldBe 3
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    // two backoffs: jittered in [50,100] + [100,200] ms -> >= 150 total
    elapsedMs should be >= 150L
  }

  test("CollectingSink is safe under the parallel runner's concurrent alert storm") {
    val sink = new graft.runner.Alerts.CollectingSink
    // 24 independent failing tasks on an 8-wide pool: task_failed alerts
    // fire concurrently from pool threads; every one must be collected and
    // the run must terminate with a complete report (no hung latch)
    val tasks = (0 until 24).map(i =>
      Pipeline.Task(s"t$i")(() => throw new RuntimeException(s"boom$i")))
    val report = Pipeline.run(tasks, Some(sink), "storm", parallelism = 8)
    report.results.size shouldBe 24
    report.failed.size shouldBe 24
    sink.alerts.count(_.severity == "task_failed") shouldBe 24
    sink.alerts.count(_.severity == "run_failed") shouldBe 1
    // raw concurrent sends (outside the runner) are lossless too
    val sink2 = new graft.runner.Alerts.CollectingSink
    val threads = (0 until 8).map(w => new Thread(() =>
      (0 until 500).foreach(i => sink2.send(
        graft.runner.Alerts.Alert("s", "p", s"$w-$i", "m")))))
    threads.foreach(_.start()); threads.foreach(_.join())
    sink2.alerts.size shouldBe 4000
    sink2.alerts.map(_.task).toSet.size shouldBe 4000
  }

  test("parallel runner completion is idempotent and pool always shuts down (wide mixed DAG)") {
    // a wide DAG with interleaved failures: every task must appear exactly
    // once in the report, dependents of failures SKIPPED, and the run must
    // return (the completion token is independent of results state, so no
    // partial-completion path can hang the latch)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val roots = (0 until 6).map { i =>
      Pipeline.Task(s"r$i")(() =>
        if (i % 2 == 0) { ran.add(s"r$i"); () }
        else throw new RuntimeException(s"fail r$i"))
    }
    val mids = (0 until 12).map { i =>
      Pipeline.Task(s"m$i", Seq(s"r${i % 6}"))(() => { ran.add(s"m$i"); () })
    }
    val leaf = Pipeline.Task("leaf", mids.map(_.name))(() => { ran.add("leaf"); () })
    val report = Pipeline.run(roots ++ mids :+ leaf, parallelism = 8)
    report.results.size shouldBe 19
    report.results.map(_.name).distinct.size shouldBe 19
    val byName = report.results.map(r => r.name -> r.status).toMap
    (0 until 6).foreach { i =>
      if (i % 2 == 0) byName(s"r$i") shouldBe Pipeline.Succeeded
      else byName(s"r$i") shouldBe a[Pipeline.Failed]
    }
    (0 until 12).foreach { i =>
      if (i % 2 == 0) byName(s"m$i") shouldBe Pipeline.Succeeded
      else byName(s"m$i") shouldBe a[Pipeline.Skipped]
    }
    byName("leaf") shouldBe a[Pipeline.Skipped]
    ran.toArray.length shouldBe (3 + 6) // r0,r2,r4 + their 6 mids
  }

  test("json file alert sink appends structured lines") {
    val path = java.nio.file.Files.createTempDirectory("alerts")
      .toString + "/alerts.jsonl"
    val sink = new graft.runner.Alerts.JsonFileSink(path)
    Pipeline.run(Seq(Pipeline.Task("x")(() =>
      throw new RuntimeException("with \"quotes\"\nand newline"))),
      Some(sink), "pipe")
    val parsed = spark.read.json(path)
    parsed.count() shouldBe 2
    parsed.filter($"severity" === "task_failed")
      .select("task").as[String].head() shouldBe "x"
  }

  test("DAG runner rejects cycles and unknown deps") {
    an[IllegalArgumentException] should be thrownBy Pipeline.run(Seq(
      Pipeline.Task("a", Seq("b"))(() => ()),
      Pipeline.Task("b", Seq("a"))(() => ())))
    an[IllegalArgumentException] should be thrownBy Pipeline.run(Seq(
      Pipeline.Task("a", Seq("ghost"))(() => ())))
  }

  test("bucketed serving publish: exchange-free dim⋈fact join, rows match the parquet gold") {
    val raw = Files.createTempDirectory("graft_raw_srv").toString
    val out = Files.createTempDirectory("graft_out_srv").toString
    writeFixtures(raw)
    Seq("serving_dim_user", "serving_fact_dataset_owner_daily").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse", t)
      if (d.exists()) graft.core.Fs.rmTree(d)
    }
    val p = MedallionPipeline(spark, raw, out, runDate = "2024-06-01",
      ingestTs = "2024-06-01 02:00:00", pipelineRunId = "test-run-srv",
      maxRejectRate = 0.7, publishBucketedServing = true, servingBuckets = 4)
    val report = p.run()
    withClue(report.toString + "\n") { report.succeeded shouldBe true }
    report.results.map(_.name) should contain("gold_publish_serving")

    val dim  = spark.table("serving_dim_user")
    val fact = spark.table("serving_fact_dataset_owner_daily")
    dim.count() shouldBe spark.read.parquet(s"$out/gold/dim_user").count()
    fact.count() shouldBe
      spark.read.parquet(s"$out/gold/fact_dataset_owner_daily").count()

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val served = fact.join(dim, "user_sk")
      val plan = served.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      plan should not include "Exchange hashpartitioning"
      served.count() shouldBe fact.count() // every fact SK resolves (J4 gate)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
