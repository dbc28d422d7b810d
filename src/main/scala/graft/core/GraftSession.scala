package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.util.ConfigUtil
import org.apache.hadoop.util.VersionInfo
import org.apache.spark.SparkContext
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
  *
  * The session's Hadoop configuration keeps every key and value but no
  * per-key source record ([[dropPropertySources]]). Spark ships that
  * configuration with every write job's tasks, every file scan's broadcast
  * and every parquet schema-inference job. It holds 1,078 keys here (core,
  * MapReduce and YARN defaults, all loaded at session start), and Hadoop
  * 3.4's `Configuration.write` gzips each key's source array (which XML
  * file set it) with its own `Deflater`; `readFields` gunzips them again.
  * Without them a serialized copy shrinks from 113,388 to 69,507 bytes.
  * On the benchmark's C1 JVM a one-task parquet write of 400 rows fell
  * from ~90 to ~52 ms, an inferring read from ~90 to ~48 ms and a
  * `TxLog.append` from ~94 to ~56 ms (medians); a `txlog_dml` run's
  * median task deserialization fell from 10 to 5 ms and its wall time by
  * ~26% (20 alternating pairs on a 4-core host). Only
  * `getPropertySources` changes: it returns null, and Spark reads it only
  * for diagnostics. No key is unset, so every `get` answers as before.
  */
object GraftSession {

  /** Janino-compiled classes kept per JVM (Spark's default is 100). */
  val CodegenCacheEntries = 1024

  /** `Configuration`'s private per-key source map, looked up once. The
    * MapReduce/YARN default resources are registered first: registering a
    * new default resource reloads every live `Configuration`, which would
    * fill the map again. Written against Hadoop 3.4.2 (`build.sbt` takes
    * the Spark distribution's jars); a Hadoop without the field fails
    * session start rather than shipping the sources silently. */
  private lazy val sourcesField: java.lang.reflect.Field = {
    ConfigUtil.loadResources()
    try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      f.setAccessible(true)
      f
    } catch {
      case e: NoSuchFieldException => throw new IllegalStateException(
        s"GraftSession: Hadoop ${VersionInfo.getVersion}'s Configuration has " +
          "no updatingResource field (the per-key source map graft empties; " +
          "written against Hadoop 3.4.2)", e)
    }
  }

  /** Empties the per-key source map of `sc`'s Hadoop configuration; every
    * key and value stays. Idempotent and cheap once done, so
    * `GraftExtensions` calls it as each session (child sessions included)
    * builds its state. */
  private[graft] def dropPropertySources(sc: SparkContext): Unit = {
    val field = sourcesField
    val conf = sc.hadoopConfiguration
    conf.size() // load the resources now, so a later load cannot refill it
    field.get(conf).asInstanceOf[java.util.Map[String, Array[String]]].clear()
  }

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
