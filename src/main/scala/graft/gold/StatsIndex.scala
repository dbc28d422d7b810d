package graft.gold

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-level min/max statistics index — the data-skipping table every
  * lakehouse format persists (Delta `stats`, Iceberg manifests), built
  * from plain parquet with one distributed scan.
  *
  * `build` output is METADATA-scale (one row per file): at 100 TB the
  * index is ~10⁵–10⁶ rows against ~10¹¹ data rows, so holding the
  * per-file bounds on the driver is exactly what every table format's
  * planner does. `write` persists it as a `_graft_stats` sidecar inside
  * the table directory, and its presence alone arms skipping: the
  * `plans.RewriteSkipIndexScan` rule wraps a filtered plain read's own
  * file index in [[pruning]], so an ordinary
  * `spark.read.parquet(table).filter(...)` reads only the files whose
  * bounds can satisfy the filter ([[StatsPruning.prune]]). With a
  * `ZOrder.writeZOrdered` layout that prunes on EVERY interleaved
  * dimension.
  *
  * The sidecar is stale-safe: the wrapped index's own listing decides
  * what exists, and the sidecar can only drop a file it holds bounds for.
  * A file appended after `write` is always read, and a listed file since
  * deleted is never read.
  *
  * This is the skipping index for PLAIN parquet directories, which have
  * no log. A TxLog table skips through the stats its own commits record
  * ([[TxLogFileIndex]], on every read); the rule never wraps its index.
  */
object StatsIndex {

  /** The sidecar directory inside the table root (underscore-prefixed →
    * invisible to ordinary parquet reads, the lakehouse
    * metadata-co-location convention).
    */
  val DirName = "_graft_stats"

  /** One row per parquet file under `path`: row count + min/max for each
    * of `cols`. A single distributed scan grouped on `input_file_name()`
    * (map-side combined — the shuffle carries one row per file per
    * partition).
    */
  def build(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "StatsIndex.build: need at least one column")
    val aggs = count(lit(1)).as("cnt") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Build the index and persist it inside the table directory as the
    * [[DirName]] sidecar, which arms skipping on every filtered plain read
    * of the table.
    */
  def write(spark: SparkSession, path: String, cols: Seq[String]): Unit =
    build(spark, path, cols)
      .coalesce(1) // metadata scale: one row per data file
      .write.mode("overwrite")
      .parquet(s"$path/$DirName")

  /** Per-file bounds for every indexed column, keyed by the file's path
    * component (`input_file_name()` is a URL-encoded URI, a listing's
    * path a qualified one: the decoded path is what both agree on).
    */
  private type FileBounds = Map[String, Map[String, StatsPruning.Bounds]]

  private def key(p: Path): String = p.toUri.getPath

  /** Loaded sidecars by path, each with the (name, mtime, len) listing
    * it was loaded under: a rebuilt index changes the listing and reloads.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, FileBounds)]()

  /** `index` pruning with the sidecar under its single root, or None when
    * the root holds none. One `listStatus` serves both the presence test
    * and the cache fingerprint.
    */
  private[graft] def pruning(spark: SparkSession,
      index: FileIndex): Option[FileIndex] = {
    val dir = new Path(index.rootPaths.head, DirName)
    val listing =
      try dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      catch { case _: java.io.FileNotFoundException => return None }
    val fingerprint = listing
      .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
      .sorted.mkString(",")
    val hit = cache.get(dir.toString)
    val bounds =
      if (hit != null && hit._1 == fingerprint) hit._2
      else {
        val loaded = load(spark, listing)
        cache.put(dir.toString, (fingerprint, loaded))
        loaded
      }
    Some(new SidecarFileIndex(index, bounds))
  }

  /** The sidecar's bounds, read from the part files of its `listing`.
    * Reading the `_graft_stats` directory itself would make Spark warn
    * that its (underscore-hidden) path was ignored.
    */
  private def load(spark: SparkSession,
      listing: Array[FileStatus]): FileBounds = {
    import StatsPruning.{BV, BvLong, BvStr}
    val parts = listing.map(_.getPath).filter { p =>
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    }.map(_.toString)
    if (parts.isEmpty) return Map.empty
    val df = spark.read.parquet(parts.toIndexedSeq: _*)
    val indexedCols = df.schema.fieldNames.filter(_.endsWith("_min"))
      .map(_.dropRight(4))
      .filter(c => df.schema.fieldNames.contains(s"${c}_max"))
    df.collect().map { r =>
      def stat(n: String): Option[BV] = r.getAs[Any](n) match {
        case n: Number            => Some(BvLong(n.longValue()))
        case d: java.sql.Date     => Some(BvLong(d.toLocalDate.toEpochDay))
        case d: java.time.LocalDate => Some(BvLong(d.toEpochDay))
        case t: java.time.LocalDateTime => // TIMESTAMP_NTZ → Catalyst micros
          Some(BvLong(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L))
        case s: String            => Some(BvStr(s))
        case _                    => None
      }
      key(new Path(new java.net.URI(r.getAs[String]("file")))) ->
        indexedCols.map(c => c -> (stat(s"${c}_min"), stat(s"${c}_max"))).toMap
    }.toMap
  }

  /** `inner`'s listing less the files whose sidecar bounds prove a pushed
    * filter false; everything else is `inner`'s.
    */
  private final class SidecarFileIndex(inner: FileIndex, bounds: FileBounds)
      extends FileIndex {

    override def rootPaths: Seq[Path] = inner.rootPaths

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      inner.listFiles(partitionFilters, dataFilters).map { pd =>
        pd.copy(files = StatsPruning.prune(pd.files, dataFilters) { (f, c) =>
          bounds.get(key(f.getPath)).flatMap(_.get(c))
        })
      }

    override def inputFiles: Array[String] = inner.inputFiles

    override def refresh(): Unit = inner.refresh()

    override def sizeInBytes: Long = inner.sizeInBytes

    override def partitionSchema: StructType = inner.partitionSchema
  }
}
