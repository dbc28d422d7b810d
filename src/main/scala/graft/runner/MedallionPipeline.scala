package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.bronze.{BronzeIngest, Validation}
import graft.gold.{BucketedLayout, DataQuality, DimDate, Scd2, SurrogateKeys}
import graft.schema.Contracts
import graft.silver.{Dedup, Enrich, Tags}

/** The reference's full Bronze→Silver→Gold medallion pipeline over the five
  * Kaggle-Meta contracts, re-expressed Spark-first and driven by the DAG
  * runner with the reference's task ordering
  * (Meta_Guideline.md:2137-2143, 2276-2297, 3692):
  * bronze(5) → silver(users → datasets → {competitions, tags} ∥ kernels) →
  * gold(dims → facts → validate).
  *
  * Layers are materialized as parquet under `outDir` with the reference's
  * path layout (`bronze|silver|gold/<table>/run_date=<d>`); facts are
  * partitioned by run_date with dynamic overwrite for idempotent re-runs
  * (requirements/...:40, 143).
  *
  * The writer is the schema authority for every layer read: each write
  * records the schema of the DataFrame it wrote, and each read of a layer
  * table passes that schema to `spark.read.schema(..)` instead of
  * inferring it from the parquet footers (an inference is one Spark job
  * per read, 26 per run). A partitioned fact records its data columns
  * only, so partition discovery types `run_date` as it would for any
  * reader. A read whose writer did not run in this instance fails with
  * `read of <path> before its writer ran`: every read follows its writer
  * through a DAG dependency, so the error names a missing dependency that
  * would otherwise read a stale table left by an earlier run.
  *
  * Determinism: `runDate` + `ingestTs` + `pipelineRunId` are injected,
  * never generated inline (SURVEY §7.4.3).
  */
final case class MedallionPipeline(
    spark: SparkSession,
    rawDir: String,
    outDir: String,
    runDate: String,
    ingestTs: String,
    pipelineRunId: String,
    maxRejectRate: Double = 0.10,
    publishBucketedServing: Boolean = false,
    servingBuckets: Int = 32,
    catalogDb: Option[String] = None,
    alertSink: Option[Alerts.Sink] = None,
    taskParallelism: Int = 6
) {

  private def bronzePath(table: String)  = s"$outDir/bronze/$table/run_date=$runDate"
  private def rejectPath(table: String)  = s"$outDir/_rejects/$table/run_date=$runDate"
  private def silverPath(table: String)  = s"$outDir/silver/$table/run_date=$runDate"
  private def goldPath(table: String)    = s"$outDir/gold/$table"

  /** The schema each layer table was written with, by path (see the class
    * doc); the DAG's parallel tasks write it concurrently. */
  private val written = scala.collection.concurrent.TrieMap.empty[String, StructType]

  private def write(df: DataFrame, path: String, coalesceTo: Int = 1): Unit = {
    df.coalesce(coalesceTo).write.mode("overwrite").parquet(path)
    written(path) = df.schema
  }

  /** A gold fact, partitioned by `run_date`: its data columns are recorded,
    * and the read discovers `run_date` from the directory names. */
  private def writeFact(fact: DataFrame, table: String): Unit = {
    fact.write.mode("overwrite").partitionBy("run_date").parquet(goldPath(table))
    written(goldPath(table)) = StructType(fact.schema.filterNot(_.name == "run_date"))
  }

  private[graft] def read(path: String): DataFrame = {
    val schema = written.getOrElse(path,
      throw new IllegalStateException(s"read of $path before its writer ran"))
    spark.read.schema(schema).parquet(path)
  }

  private def readBronze(table: String) = read(bronzePath(table))
  private def readSilver(table: String) = read(silverPath(table))
  private def readGold(table: String) = read(goldPath(table))

  // -------------------------------------------------------------------------
  // Bronze: contract read → validate split → circuit breaker → write both
  // -------------------------------------------------------------------------
  private val summaries =
    scala.collection.concurrent.TrieMap.empty[String, Validation.DqSummary]

  private def rawPath(c: Contracts.TableContract): String = s"$rawDir/${c.name}.csv"

  /** The raw files of `Contracts.all` that do not exist yet. Existence
    * goes through the Hadoop FileSystem so the check agrees with the
    * actual read (s3a/hdfs/file URIs, not just local paths).
    */
  private def missingSources(): Seq[String] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    Contracts.all.map(rawPath).filterNot { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(hadoopConf).exists(path)
    }
  }

  /** S11 — source-availability precondition (reference
    * Meta_Guideline.md:1421-1454, 3932-3966): every contract's raw file
    * must exist before ANY bronze work starts; fail fast with the full
    * missing list, not on the first table mid-run.
    */
  private def checkSourcesAvailable(): Unit = {
    val missing = missingSources()
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"source availability check failed; missing: ${missing.mkString(", ")}")
  }

  /** WAITING sensor variant of the source precheck — the Airflow
    * FileSensor parity (reference DAGs gate file-processing on sensors,
    * dags/basic/03_file_processing_v2_dag.py:123-130): poll until every
    * raw file exists or the timeout elapses; on timeout, fail with the
    * still-missing list (same loud contract as the fail-fast check).
    * `checkSourcesAvailable` stays the batch-run default — a scheduled
    * catchup knows its files are late, an ad-hoc run wants fail-fast.
    */
  private[graft] def waitForSources(timeoutMs: Long, pollMs: Long = 500L,
      clock: () => Long = () => System.nanoTime() / 1000000L): Unit = {
    val deadline = clock() + timeoutMs
    var m = missingSources()
    while (m.nonEmpty && clock() < deadline) {
      Thread.sleep(math.min(pollMs, math.max(1L, deadline - clock())))
      m = missingSources()
    }
    if (m.nonEmpty)
      throw new java.util.concurrent.TimeoutException(
        s"source sensor timed out after ${timeoutMs}ms; still missing: " +
          m.mkString(", "))
  }

  private def bronze(contract: Contracts.TableContract): Unit = {
    val res = BronzeIngest.ingest(
      spark, rawPath(contract), contract, runDate,
      ingestTs = Some(ingestTs))
    try {
      summaries(contract.name) = res.summary
      Validation.circuitBreak(res.summary, maxRejectRate)
      write(res.valid, bronzePath(contract.name))
      write(res.rejects, rejectPath(contract.name))
    } finally res.unpersist()
  }

  /** Merge per-table summaries → `_reports/.../bronze_summary.json`
    * (reference report merge, Meta_Guideline.md:1456-1512) and re-check the
    * overall gate before Silver (layer precondition, :2145-2184).
    */
  private def bronzeReport(): Unit = {
    val all     = summaries.values.toSeq.sortBy(_.table)
    val summary = Reports.bronzeSummary(runDate, all)
    Reports.writeJson(
      s"$outDir/_reports/run_date=$runDate/bronze_summary.json", summary)
    val overall = summary("overall_rejection_rate").asInstanceOf[Double]
    if (overall > maxRejectRate)
      throw new IllegalStateException(
        f"bronze overall rejection rate $overall%.4f > $maxRejectRate%.2f")
  }

  // -------------------------------------------------------------------------
  // Silver
  // -------------------------------------------------------------------------
  private def silverUsers(): Unit = {
    // ingest_ts is a per-run constant, so the REAL ordering is the
    // tiebreaks — they must cover every attribute that can differ between
    // duplicate rows, or the surviving row is partition-order lottery.
    val deduped = Dedup.keepLatest(
      readBronze("users"), Seq("user_id"), "ingest_ts",
      Seq(col("signup_ts").desc_nulls_last, col("country_code").desc_nulls_last,
        col("user_name").desc_nulls_last))
    val imputed = deduped
      .withColumn("country_code_imputed", col("country_code").isNull)
      .withColumn("country_code", coalesce(col("country_code"), lit("XX")))
      .withColumn("silver_run_date", lit(runDate))
    write(imputed, silverPath("users"))
  }

  private def silverDatasets(): Unit = {
    val deduped = Dedup.keepLatest(
      readBronze("datasets"), Seq("dataset_id"), "updated_ts",
      Seq(col("created_ts"), col("dataset_title"), col("owner_user_id"),
        col("total_views"), col("total_downloads"), col("is_private"),
        col("dataset_type"), col("dataset_subtitle")).map(_.desc_nulls_last))
    val users = readSilver("users").select("user_id", "user_name", "country_code")
    val enriched = Enrich.leftWithDefaults(
      deduped, users, col("owner_user_id") === col("user_id"),
      Map("user_name" -> "Unknown", "country_code" -> "XX"))
    val derived = enriched
      .withColumn("views_downloads_ratio",
        when(col("total_downloads") > 0,
          col("total_views").cast("double") / col("total_downloads")))
      .withColumn("silver_run_date", lit(runDate))
    write(derived, silverPath("datasets"))
  }

  private def silverCompetitions(): Unit = {
    val deduped = Dedup.keepLatest(
      readBronze("competitions"), Seq("competition_id"), "start_ts",
      Seq(col("title"), col("prize_money"), col("deadline_ts"), col("category"))
        .map(_.desc_nulls_last))
    write(deduped.withColumn("silver_run_date", lit(runDate)), silverPath("competitions"))
  }

  private def silverKernels(): Unit = {
    val deduped = Dedup.keepLatest(
      readBronze("kernels"), Seq("kernel_id"), "updated_ts",
      Seq(col("created_ts"), col("title"), col("author_user_id"))
        .map(_.desc_nulls_last))
    write(deduped.withColumn("silver_run_date", lit(runDate)), silverPath("kernels"))
  }

  private def silverTags(): Unit = {
    val exploded = Tags.normalized(Tags.explodeTags(readBronze("tags")))
    val (valid, _) = Validation.split(
      exploded.withColumn("tag", col("tag_normalized")),
      Seq(Validation.notEmpty("tag"), Validation.maxLength("tag", 100)))
    val deduped = Dedup.dropDuplicates(valid, Seq("dataset_id", "tag"))
    // Filtering join: keep tags whose dataset survived Silver (J2).
    val kept = Enrich.filterExisting(
      deduped, readSilver("datasets").select("dataset_id"), Seq("dataset_id"))
    write(kept.withColumn("silver_run_date", lit(runDate)), silverPath("tags"))
  }

  // -------------------------------------------------------------------------
  // Gold
  // -------------------------------------------------------------------------
  private def goldDimUser(): Unit = {
    val hist = Scd2.initialLoad(
      readSilver("users")
        .withColumn("change_ts", coalesce(col("signup_ts"), col("ingest_ts")))
        .select("user_id", "change_ts", "user_name", "country_code"),
      Seq("user_id"), "change_ts", Seq("user_name", "country_code"))
    val keyed = SurrogateKeys.scalableMode(
      hist, Seq(col("effective_start_ts"), col("user_id")), "user_sk")
    val unknown = spark.createDataFrame(
      java.util.List.of(
        // Instant-based construction: Timestamp.valueOf would interpret the
        // literal in the JVM default zone, diverging from the UTC session
        // literals on non-UTC hosts.
        org.apache.spark.sql.Row(0L, "-1", null, "Unknown", "XX",
          java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T00:00:00Z")),
          java.sql.Timestamp.from(java.time.Instant.parse("9999-12-31T00:00:00Z")), true)),
      new org.apache.spark.sql.types.StructType()
        .add("user_sk", "long", false).add("user_id", "string")
        .add("change_ts", "timestamp").add("user_name", "string")
        .add("country_code", "string")
        .add("effective_start_ts", "timestamp")
        .add("effective_end_ts", "timestamp").add("is_current", "boolean")
    )
    val dim = Scd2.withUnknownRow(
      keyed.select("user_sk", "user_id", "change_ts", "user_name", "country_code",
        "effective_start_ts", "effective_end_ts", "is_current")
        .withColumn("change_ts", col("change_ts").cast("timestamp"))
        .withColumn("effective_start_ts", col("effective_start_ts").cast("timestamp"))
        .withColumn("effective_end_ts", col("effective_end_ts").cast("timestamp")),
      unknown)
    write(dim.withColumn("etl_run_date", lit(runDate)), goldPath("dim_user"))
  }

  private def goldDimDate(): Unit =
    write(DimDate.build(spark, "2015-01-01", "2030-12-31"), goldPath("dim_date"), 4)

  /** dim_dataset / dim_competition / dim_tag / bridge / two more facts: the
    * reference DAG invokes these jobs but their scripts are absent from the
    * repo (SURVEY §7.4.6) — built from the spec
    * (requirements/meta/meta_module_06_requirements.md:79-99).
    */
  private def goldDimDataset(): Unit = {
    val hist = Scd2.initialLoad(
      readSilver("datasets")
        .withColumn("change_ts", coalesce(col("updated_ts"), col("created_ts"), col("ingest_ts")))
        .select("dataset_id", "change_ts", "dataset_title", "owner_user_id", "is_private"),
      Seq("dataset_id"), "change_ts", Seq("dataset_title", "owner_user_id", "is_private"))
    val keyed = SurrogateKeys.scalableMode(
      hist, Seq(col("effective_start_ts"), col("dataset_id")), "dataset_sk")
    write(keyed.withColumn("etl_run_date", lit(runDate)), goldPath("dim_dataset"))
  }

  private def goldDimCompetition(): Unit = {
    val hist = Scd2.initialLoad(
      readSilver("competitions")
        .withColumn("change_ts", coalesce(col("start_ts"), col("ingest_ts")))
        .select("competition_id", "change_ts", "title", "category", "prize_money"),
      Seq("competition_id"), "change_ts", Seq("title", "category", "prize_money"))
    val keyed = SurrogateKeys.scalableMode(
      hist, Seq(col("effective_start_ts"), col("competition_id")), "competition_sk")
    write(keyed.withColumn("etl_run_date", lit(runDate)), goldPath("dim_competition"))
  }

  /** dim_tag is SCD1 (requirements/...:85): distinct tags + dense SKs. */
  private def goldDimTag(): Unit = {
    val tags = readSilver("tags").select("tag").distinct()
    val keyed = SurrogateKeys.scalableMode(tags, Seq(col("tag")), "tag_sk")
    write(keyed.withColumn("etl_run_date", lit(runDate)), goldPath("dim_tag"))
  }

  /** bridge_dataset_tag(dataset_sk, tag_sk, run_date, is_current) —
    * requirements/...:90. No explicit broadcast hints: dim_dataset scales
    * with the dataset corpus and dim_tag with the tag vocabulary, so a
    * forced broadcast risks driver OOM at 100 TB — the dims are projected
    * to two columns and AQE picks broadcast vs shuffle from actual sizes.
    */
  private def goldBridgeDatasetTag(): Unit = {
    val tags = readSilver("tags").select("dataset_id", "tag")
    val dsDim = readGold("dim_dataset")
      .filter(col("is_current")).select("dataset_id", "dataset_sk")
    val tagDim = readGold("dim_tag").select("tag", "tag_sk")
    val bridge = tags
      .join(dsDim, Seq("dataset_id"))
      .join(tagDim, Seq("tag"))
      .select(col("dataset_sk"), col("tag_sk"))
      .distinct()
      .withColumn("run_date", lit(runDate))
      .withColumn("is_current", lit(true))
    write(bridge, goldPath("bridge_dataset_tag"))
  }

  /** fact_competitions_yearly: per start-year counts + avg prize; invariant
    * competitions_count ≥ active_competitions_count (requirements/...:96).
    * "Active" = deadline on/after the run date.
    */
  private def goldFactCompetitionsYearly(): Unit = {
    val comps = readSilver("competitions").filter(col("start_ts").isNotNull)
    val fact = comps
      .groupBy(year(col("start_ts")).cast("int").as("year"))
      .agg(
        count(lit(1)).as("competitions_count"),
        sum(when(col("deadline_ts") >= lit(runDate).cast("timestamp"), 1L).otherwise(0L))
          .as("active_competitions_count"),
        avg(col("prize_money")).as("avg_prize"))
      .withColumn("run_date", lit(runDate))
      .withColumn("pipeline_run_id", lit(pipelineRunId))
    writeFact(fact, "fact_competitions_yearly")
  }

  /** fact_tag_usage_daily: per tag usage vs newly-created usage; invariant
    * usage_count ≥ new_usage_count (requirements/...:98-99).
    */
  private def goldFactTagUsageDaily(): Unit = {
    // datasets is fact-scale — no broadcast hint; the join key side is
    // projected to two columns and AQE decides the strategy from size.
    val tags = readSilver("tags")
    val ds   = readSilver("datasets").select("dataset_id", "created_ts")
    val fact = tags
      .join(ds, Seq("dataset_id"), "left")
      .groupBy("tag")
      .agg(
        count(lit(1)).as("usage_count"),
        sum(when(col("created_ts").cast("date") === lit(runDate).cast("date"), 1L)
          .otherwise(0L)).as("new_usage_count"))
      .withColumn("run_date", lit(runDate))
      .withColumn("pipeline_run_id", lit(pipelineRunId))
    writeFact(fact, "fact_tag_usage_daily")
  }

  private def goldFactDatasetOwnerDaily(): Unit = {
    val ds = readSilver("datasets")
    val daily = ds.groupBy("owner_user_id").agg(
      count(lit(1)).as("datasets_count"),
      sum(when(col("is_private"), 1L).otherwise(0L)).as("private_datasets_count"),
      sum(when(!coalesce(col("is_private"), lit(false)), 1L).otherwise(0L))
        .as("public_datasets_count"),
      sum(coalesce(col("total_views"), lit(0L))).as("total_views"),
      sum(coalesce(col("total_downloads"), lit(0L))).as("total_downloads"))
    val dim = readGold("dim_user")
      .filter(col("is_current"))
      .select(col("user_id").as("owner_user_id"), col("user_sk"))
    val fact = Enrich.lookupSk(daily, dim, "owner_user_id", "user_sk")
      .withColumn("date_sk", lit(runDate.replace("-", "")).cast("int"))
      .withColumn("run_date", lit(runDate))
      .withColumn("pipeline_run_id", lit(pipelineRunId))
    writeFact(fact, "fact_dataset_owner_daily")
  }

  /** All seven gold DQ gates evaluated in ONE Spark action: each check's
    * violation frame is tagged with its name, unioned, and counted per
    * check — seven sequential `.isEmpty` probes each paid a full
    * job-launch round-trip (the reference's own per-`count()` recompute
    * anti-pattern, SURVEY §3.2); one union job pays it once and the stages
    * still run in parallel inside the job.
    */
  private def goldValidate(): Unit = {
    val fact = readGold("fact_dataset_owner_daily")
    val dim  = readGold("dim_user")
    val compYearly = readGold("fact_competitions_yearly")
    val tagUsage = readGold("fact_tag_usage_daily")
    val bridge = readGold("bridge_dataset_tag")
    val dsDim  = readGold("dim_dataset")
    val tagDim = readGold("dim_tag")

    val checks: Seq[(String, DataFrame)] = Seq(
      "total = private + public" -> DataQuality.violations(fact,
        col("datasets_count") === col("private_datasets_count") + col("public_datasets_count")),
      "no dangling user_sk" -> DataQuality.danglingSks(fact, dim, "user_sk"),
      "exactly one current version per user" ->
        DataQuality.scd2Violations(dim.filter(col("user_sk") =!= 0), Seq("user_id")),
      "competitions_count >= active_competitions_count" ->
        DataQuality.violations(compYearly,
          col("competitions_count") >= col("active_competitions_count")),
      "usage_count >= new_usage_count" ->
        DataQuality.violations(tagUsage,
          col("usage_count") >= col("new_usage_count")),
      "bridge dataset_sk integrity" ->
        DataQuality.danglingSks(bridge, dsDim, "dataset_sk", unknownSk = -1L),
      "bridge tag_sk integrity" ->
        DataQuality.danglingSks(bridge, tagDim, "tag_sk", unknownSk = -1L))

    val violationCounts = checks
      .map { case (name, df) => df.select(lit(name).as("check")) }
      .reduce(_ union _)
      .groupBy("check").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checks.foreach { case (name, _) =>
      DataQuality.gate(name, violationCounts.getOrElse(name, 0L) == 0L)
    }
  }

  /** Optional serving layout (`publishBucketedServing`): republish the
    * most-joined gold tables — the user dim and the daily owner fact — as
    * bucketed+sorted managed tables on `user_sk` (gold.BucketedLayout), so
    * the repeated dashboard join pays its shuffle once at publish time.
    * Off by default: the parquet path layout is the pipeline's contract;
    * this is an additive optimization for repeated-join serving workloads.
    */
  private def goldPublishServing(): Unit = {
    BucketedLayout.publish(readGold("dim_user"),
      "serving_dim_user", "user_sk", servingBuckets)
    BucketedLayout.publish(
      readGold("fact_dataset_owner_daily"),
      "serving_fact_dataset_owner_daily", "user_sk", servingBuckets)
  }

  // -------------------------------------------------------------------------
  // Catalog registration (Glue-crawler equivalent)
  // -------------------------------------------------------------------------
  /** Register one layer's outputs as PERSISTENT external parquet tables
    * (`CREATE TABLE … USING parquet LOCATION`) in `catalogDb` — the
    * reference crawls each layer into a queryable Glue catalog after the
    * layer completes (Meta_Guideline.md:1538-1545); this is that crawler
    * re-expressed as Spark catalog DDL. Tables are registered at the TABLE
    * ROOT, so bronze/silver `run_date=<d>` directories and partitioned
    * facts surface as partitions of ONE table across backfills; `MSCK
    * REPAIR` re-discovers partitions on every run (idempotent,
    * metadata-scale). Drop+create keeps the location authoritative.
    */
  private def registerLayer(tables: Seq[(String, String)]): Unit =
    catalogDb.foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      tables.foreach { case (name, path) =>
        spark.sql(s"DROP TABLE IF EXISTS `$db`.`$name`")
        spark.sql(s"CREATE TABLE `$db`.`$name` USING parquet LOCATION '$path'")
        // Whether `run_date=` dirs become PARTITION columns is decided by
        // schema inference at create time: bronze/silver files CARRY
        // run_date as a data column, so their dirs are plain subpaths
        // (still read recursively); partitionBy-written facts infer a real
        // partition column and need MSCK to register the partitions.
        val partitioned = spark.catalog.listColumns(s"`$db`.`$name`")
          .collect().exists(_.isPartition)
        if (partitioned) spark.sql(s"MSCK REPAIR TABLE `$db`.`$name`")
      }
    }

  private def catalogBronze(): Unit = registerLayer(
    Contracts.all.map(c => (s"bronze_${c.name}", s"$outDir/bronze/${c.name}")))

  private def catalogSilver(): Unit = registerLayer(
    Seq("users", "datasets", "competitions", "tags", "kernels")
      .map(t => (s"silver_$t", s"$outDir/silver/$t")))

  private def catalogGold(): Unit = registerLayer(
    Seq("dim_user", "dim_date", "dim_dataset", "dim_competition", "dim_tag",
      "bridge_dataset_tag", "fact_competitions_yearly", "fact_tag_usage_daily",
      "fact_dataset_owner_daily").map(t => (s"gold_$t", goldPath(t))))

  // -------------------------------------------------------------------------
  // DAG
  // -------------------------------------------------------------------------
  /** DAG assembly. `check_sources` is attached as a dependency of every
    * root task AUTOMATICALLY (see `tasks`), so a future dep-less task can't
    * silently escape the nothing-written-on-missing-sources invariant.
    */
  private def rawTasks: Seq[Pipeline.Task] = {
    import Pipeline.Task
    Seq(
      Task("bronze_users")(() => bronze(Contracts.users)),
      Task("bronze_datasets")(() => bronze(Contracts.datasets)),
      Task("bronze_competitions")(() => bronze(Contracts.competitions)),
      Task("bronze_tags")(() => bronze(Contracts.tags)),
      Task("bronze_kernels")(() => bronze(Contracts.kernels)),
      Task("bronze_report", Seq("bronze_users", "bronze_datasets",
        "bronze_competitions", "bronze_tags", "bronze_kernels"))(() => bronzeReport()),
      Task("silver_users",
        Seq("bronze_users", "bronze_report"))(() => silverUsers()),
      Task("silver_datasets", Seq("silver_users", "bronze_datasets"))(() => silverDatasets()),
      Task("silver_competitions",
        Seq("bronze_competitions", "bronze_report"))(() => silverCompetitions()),
      Task("silver_tags", Seq("silver_datasets", "bronze_tags"))(() => silverTags()),
      Task("silver_kernels",
        Seq("bronze_kernels", "bronze_report"))(() => silverKernels()),
      Task("gold_dim_user", Seq("silver_users"))(() => goldDimUser()),
      Task("gold_dim_date")(() => goldDimDate()),
      Task("gold_dim_dataset", Seq("silver_datasets"))(() => goldDimDataset()),
      Task("gold_dim_competition", Seq("silver_competitions"))(() => goldDimCompetition()),
      Task("gold_dim_tag", Seq("silver_tags"))(() => goldDimTag()),
      Task("gold_bridge_dataset_tag",
        Seq("gold_dim_dataset", "gold_dim_tag"))(() => goldBridgeDatasetTag()),
      Task("gold_fact_dataset_owner_daily",
        Seq("gold_dim_user", "silver_datasets"))(() => goldFactDatasetOwnerDaily()),
      Task("gold_fact_competitions_yearly",
        Seq("silver_competitions"))(() => goldFactCompetitionsYearly()),
      Task("gold_fact_tag_usage_daily",
        Seq("silver_tags", "silver_datasets"))(() => goldFactTagUsageDaily()),
      Task("gold_validate",
        Seq("gold_fact_dataset_owner_daily", "gold_fact_competitions_yearly",
          "gold_fact_tag_usage_daily", "gold_bridge_dataset_tag"))(() => goldValidate())
    ) ++ (if (publishBucketedServing)
      Seq(Task("gold_publish_serving",
        Seq("gold_dim_user", "gold_fact_dataset_owner_daily", "gold_validate"))(
        () => goldPublishServing()))
    else Nil) ++ (if (catalogDb.nonEmpty)
      Seq(
        Task("catalog_bronze", Seq("bronze_report"))(() => catalogBronze()),
        Task("catalog_silver", Seq("silver_users", "silver_datasets",
          "silver_competitions", "silver_tags", "silver_kernels"))(
          () => catalogSilver()),
        Task("catalog_gold", Seq("gold_validate"))(() => catalogGold()))
    else Nil)
  }

  def tasks: Seq[Pipeline.Task] = {
    import Pipeline.Task
    val gate = Task("check_sources")(() => checkSourcesAvailable())
    gate +: rawTasks.map { t =>
      if (t.deps.isEmpty) Task(t.name, Seq(gate.name))(t.body) else t
    }
  }

  /** `taskParallelism` (default 6) runs independent DAG tasks concurrently
    * — the Airflow executor-pool parity (the reference's bronze tasks fan
    * out in its DAGs). Per-run outputs are identical to a sequential run:
    * each task owns its paths and the byte-identical backfill proof runs
    * through this same setting.
    */
  def run(): Pipeline.Report =
    Pipeline.run(tasks, alertSink, s"medallion-$runDate", taskParallelism)
}

object MedallionPipeline {

  /** Backfill / catchup runner — the Airflow `catchup=True` loop the
    * reference's DAGs rely on (Meta_Guideline.md:1409-1412), as an explicit
    * driver: one full pipeline run per date, OLDEST FIRST (later dates'
    * gold dims supersede earlier ones, exactly as a chronological catchup
    * would), each idempotent per `run_date` (partitioned facts use dynamic
    * overwrite; bronze/silver land under `run_date=<d>` dirs) — so a
    * re-backfill of any window, or a crash-resume from the failed date, is
    * a no-op for already-complete dates (MedallionPipelineSpec proves a
    * second identical backfill leaves byte-identical layer contents).
    *
    * `ingestTs` and `pipelineRunId` are DERIVED from the date
    * (`<d> 00:00:00` / `backfill-<d>`), keeping every run deterministic —
    * the injected-clock discipline of the single-run constructor.
    *
    * Fail-fast like `depends_on_past`: a failed date stops the loop (its
    * report is last in the returned seq) so later dates never build gold
    * state on a half-written predecessor.
    */
  def runFor(
      spark: SparkSession,
      rawDir: String,
      outDir: String,
      dates: Seq[String],
      maxRejectRate: Double = 0.10,
      catalogDb: Option[String] = None
  ): Seq[Pipeline.Report] = {
    require(dates.nonEmpty, "MedallionPipeline.runFor: empty date list")
    require(dates == dates.sorted,
      s"MedallionPipeline.runFor: dates must be ascending (got $dates) - " +
        "a catchup replays history in order")
    val reports = scala.collection.mutable.ArrayBuffer.empty[Pipeline.Report]
    dates.iterator.takeWhile { d =>
      val r = MedallionPipeline(spark, rawDir, outDir, runDate = d,
        ingestTs = s"$d 00:00:00", pipelineRunId = s"backfill-$d",
        maxRejectRate = maxRejectRate, catalogDb = catalogDb).run()
      reports += r
      r.succeeded
    }.foreach(_ => ())
    reports.toSeq
  }
}
