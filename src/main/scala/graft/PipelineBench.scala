package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end medallion benchmark against the reference's SLAs
  * (Bronze→Silver→Gold < 30 min; Silver→Gold < 10 min — BASELINE.md).
  * Generates deterministic synthetic raw CSVs at a row scale given by
  * args(0) (default 100000 users) and times a full pipeline run.
  * `codegen_compiles` counts the classes Janino compiled during the timed
  * run, so compile work shows in the end-to-end number instead of hiding
  * in it. `layer_s` sums the runner's task durations per medallion layer
  * (tasks run concurrently, so the sum can exceed the wall time).
  */
object PipelineBench {

  /** The layer a DAG task belongs to, by name prefix; `check_sources` and
    * `bronze_report` count as bronze. */
  private def layerOf(task: String): String =
    if (task.startsWith("silver")) "silver"
    else if (task.startsWith("gold")) "gold"
    else "bronze"

  def main(args: Array[String]): Unit = {
    val nUsers = if (args.nonEmpty) args(0).toInt else 100000
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = core.GraftSession
      .builder(master = s"local[$cpus]", appName = "graft-pipeline-bench",
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = Files.createTempDirectory("graft_pbench_raw").toString
    val out = Files.createTempDirectory("graft_pbench_out").toString

    // Deterministic synthetic raw data: ~1-5% dirty rows per table.
    // escape='"' so quoted JSON cells round-trip through the contract
    // reader (which parses with the same escape).
    def csv(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(4).write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(s"$raw/$name.csv") // a directory of CSVs — spark.read.csv handles it

    val users = spark.range(nUsers).select(
      concat(lit("U"), col("id")).as("Id"),
      when(col("id") % 97 === 0, lit(null)).otherwise(concat(lit("user_"), col("id"))).as("UserName"),
      concat(lit("2023-01-"), lpad(((col("id") % 28) + 1).cast("string"), 2, "0"),
        lit(" 00:00:00")).as("RegisterDate"),
      when(col("id") % 53 === 0, lit("USA")).otherwise(lit("US")).as("Country"))
    csv("users", users)

    val nDatasets = nUsers * 3
    val datasets = spark.range(nDatasets).select(
      concat(lit("D"), col("id")).as("Id"),
      concat(lit("Dataset "), col("id")).as("Title"),
      lit("").as("Subtitle"),
      concat(lit("U"), col("id") % (nUsers + 1000)).as("CreatorUserId"), // some dangling
      (col("id") % 10000).cast("string").as("TotalViews"),
      when(col("id") % 89 === 0, lit("N/A"))
        .otherwise((col("id") % 500).cast("string")).as("TotalDownloads"),
      lit("2023-02-01 00:00:00").as("CreationDate"),
      lit("2023-03-01 00:00:00").as("LastUpdatedDate"),
      lit("tabular").as("Type"),
      when(col("id") % 2 === 0, "TRUE").otherwise("FALSE").as("IsPrivate"))
    csv("datasets", datasets)

    val competitions = spark.range(nUsers / 100 + 10).select(
      concat(lit("C"), col("id")).as("Id"),
      concat(lit("Comp "), col("id")).as("Title"),
      lit("vision").as("Category"),
      lit("2023-01-01 00:00:00").as("StartDate"),
      lit("2023-06-01 00:00:00").as("Deadline"),
      (col("id") * 100).cast("string").as("PrizeMoney"))
    csv("competitions", competitions)

    val tags = spark.range(nDatasets / 2).select(
      concat(lit("D"), col("id") * 2).as("DatasetId"),
      concat(lit("[\"tag"), col("id") % 500, lit("\",\"ml\"]")).as("Tags"))
    csv("tags", tags)

    val kernels = spark.range(nUsers / 2).select(
      concat(lit("K"), col("id")).as("Id"),
      concat(lit("U"), col("id") % nUsers).as("AuthorUserId"),
      concat(lit("Kernel "), col("id")).as("Title"),
      lit("2023-04-01 00:00:00").as("CreationDate"),
      lit("2023-04-02 00:00:00").as("LastUpdatedDate"))
    csv("kernels", kernels)

    try {
      val compileCount = CodegenMetrics.METRIC_COMPILATION_TIME
      val k0 = compileCount.getCount
      val t0 = System.nanoTime()
      val report = runner.MedallionPipeline(spark, raw, out,
        runDate = "2024-06-01", ingestTs = "2024-06-01 02:00:00",
        pipelineRunId = "pipeline-bench").run()
      val secs = (System.nanoTime() - t0) / 1e9
      val compiles = compileCount.getCount - k0
      println(report.toString)
      // A failed run leaves no gold output — the metric line must still
      // print (its `succeeded` field exists exactly for that case).
      val factRows =
        if (report.succeeded)
          spark.read.parquet(s"$out/gold/fact_dataset_owner_daily").count()
        else -1L
      val layerSecs = Seq("bronze", "silver", "gold").map { l =>
        val ms = report.results.filter(r => layerOf(r.name) == l).map(_.durationMs).sum
        s""""$l":${ms / 1e3}"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"pipeline_e2e","value":$secs,"unit":"sec","users":$nUsers,"datasets":$nDatasets,"fact_rows":$factRows,"codegen_compiles":$compiles,"layer_s":$layerSecs,"succeeded":${report.succeeded}}""")
    } finally {
      spark.stop()
      // gigabytes of benchmark workspace must go even on a thrown run
      Seq(raw, out).foreach(p => core.Fs.rmTree(new java.io.File(p)))
    }
  }
}
