package graft.gold

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory
}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The ONE place a TxLog file list becomes a scan: a Spark [[FileIndex]]
  * over files the log recorded (a snapshot's, or a stream batch's), so
  * every TxLog data-file read — `TxLog.read`, time travel, the change
  * feed, the DML probes, the `graft-txlog` batch format and both
  * micro-batch sources — is planned from the log itself, never from a
  * directory listing (the EDBT 2020 "plan from the lake's recorded
  * physical design" stance; Delta's `TahoeFileIndex` has the same job).
  *
  *  - Each status is the recorded file name under the table root (the
  *    root is qualified once; no per-file filesystem call) with the
  *    EXACT recorded size (`TxLog.fileBytes`: a file with no recorded
  *    size pays one stat) — exact because the parquet reader locates the
  *    footer by it. `_metadata.file_name` is therefore the log's file
  *    name, which deletion-vector lookups key on.
  *  - `listFiles` prunes through [[StatsPruning.prune]] with the
  *    recorded bounds (both stat domains: canonical longs and the
  *    truncated one-sided string bounds — see [[TxLog.ColStats]]). Stats
  *    are keyed by PHYSICAL column name, which is what the relation's
  *    schema and hence the filters carry.
  *  - `sizeInBytes` is the recorded sum of ALL files (broadcast choices
  *    do not move with pruning) and `inputFiles` is every file: what a
  *    scan actually read is the scan node's "number of files read".
  */
final class TxLogFileIndex(spark: SparkSession, path: String, version: Long,
    files: Seq[String], stats: Map[String, TxLog.FileStats])
    extends FileIndex {

  private lazy val statuses: Seq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = {
      val p = new Path(path)
      p.getFileSystem(conf).makeQualified(p)
    }
    files.map(f => new FileStatus(TxLog.fileBytes(path, f, stats, conf),
      false, 0, 0L, 0L, new Path(root, f)))
  }

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = StatsPruning.prune(statuses, dataFilters) { (st, c) =>
      stats.get(st.getPath.getName).flatMap(_.cols.get(c)).map(_.bounds)
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def toString: String =
    s"TxLogFileIndex[$path@v$version, ${files.size} files]"
}

object TxLogFileIndex {

  /** A parquet relation over `files` of the table at `path`, read with
    * `dataSchema` (physical column names, every field nullable).
    */
  def relation(spark: SparkSession, path: String, version: Long,
      files: Seq[String], stats: Map[String, TxLog.FileStats],
      dataSchema: StructType): HadoopFsRelation =
    HadoopFsRelation(new TxLogFileIndex(spark, path, version, files, stats),
      partitionSchema = new StructType(), dataSchema = dataSchema,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
}
