package graft.core

import org.apache.spark.sql.SparkSession

/** Single place for engine Spark config, so Verify/Bench/tests and any
  * embedding application agree on semantics.
  *
  * Mirrors the reference's runtime posture (AQE on, coalescing, skew-join
  * handling, UTC timestamps — reference `conf/spark-defaults.conf:13-24`,
  * `requirements/meta/meta_module_06_requirements.md:21`) but sized for the
  * actual hardware: shuffle partitions default to the core count, not a
  * hardcoded 200 (the reference's own anti-pattern at scale).
  *
  * `partitionOverwriteMode=dynamic` is load-bearing: the reference overwrites
  * facts per `run_date` partition (Meta_Guideline.md:3033-3038); without
  * dynamic mode Spark would truncate the whole table on each run.
  *
  * `spark.sql.codegen.cache.maxEntries` is raised from Spark's 100 to
  * [[CodegenCacheEntries]] so a repeated DAG run reuses its compiled
  * classes. The reference's daily DAG is also its backfill (Airflow
  * `catchup=True` replays it once per `run_date`,
  * Meta_Guideline.md:1409-1412; `MedallionPipeline.runFor`). One medallion
  * run fills ~257 cache entries: Spark 4.1's `CodeGenerator.compile` keys
  * the cache on the thread's context class loader as well as the code, so
  * the driver-side compile check and the executor tasks each add an entry.
  * At 100 entries every run after the first re-compiled all of them; at
  * 1024 (~4x that working set) a warm `medallion_daily` benchmark pass
  * compiles 0-4 classes instead of 255-257, and its executor CPU drops by
  * ~43% (median of 10 alternating pairs on a 4-core host). A new `run_date`
  * still re-compiles the classes that constant-fold its date literal (16 of
  * 257 in `MedallionPipelineSpec`), and a cold first run compiles all of
  * them. The cache is one per JVM, sized from the active session's conf
  * when Spark first generates code.
  *
  * The `file:` scheme is served by [[LocalFs]] (both the `FileSystem` and
  * the `FileContext` view). With no `libhadoop` native library Hadoop's
  * local file system forks `chmod` for every directory and file it creates
  * with a permission, and the FileContext forks `readlink` on every rename.
  * One `txlog_dml` benchmark run started 1,294 child processes (940
  * `chmod`, 320 `readlink`; two thirds on driver threads) and
  * now starts 35, none of them `chmod` or `readlink`; a `medallion_daily`
  * run forked 968 `chmod` and now none. Each streaming metadata-log write
  * (`walCommit`, `commitOffsets`) fell from ~0.1 s to ~8 ms, and the
  * median `txlog_dml` operation from 2.34 s to 1.87 s (10 alternating
  * pairs on a 4-core host, C1-only JIT). Only `file:` changes:
  * checksums, atomic renames, the commit protocol, s3a and hdfs are
  * Hadoop's own. Hadoop caches one `FileSystem` per scheme per JVM, so
  * this holds when the JVM's first `file:` lookup sees this conf, as it
  * does when the session is built before any Hadoop file I/O.
  */
object GraftSession {

  /** Janino-compiled classes kept per JVM (Spark's default is 100). */
  val CodegenCacheEntries = 1024

  def defaultParallelism: Int = Runtime.getRuntime.availableProcessors()

  def builder(
      master: String = s"local[$defaultParallelism]",
      appName: String = "graft",
      shufflePartitions: Int = defaultParallelism
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[LocalFs.ContextFs].getName)
      // The driver testdata stores events.ts as Parquet TIMESTAMP(NANOS),
      // which Spark's vectorized reader rejects; read as Long nanos and
      // convert in Tables.events (truncation to µs matches DuckDB).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(shufflePartitions: Int = defaultParallelism): SparkSession = {
    val s = builder(shufflePartitions = shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
