package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics index — the data-skipping table every
  * lakehouse format persists (Delta `stats`, Iceberg manifests), built
  * from plain parquet with one distributed scan.
  *
  * `build` output is METADATA-scale (one row per file), so it can live
  * broadcast in the planner; `prunedRead` consults it to read only the
  * files whose [min, max] range intersects the predicate — with a
  * `ZOrder.writeZOrdered` layout, that prunes on EVERY interleaved
  * dimension. Pruning is sound by construction (a file whose range does
  * not intersect the interval cannot contain a matching row), and
  * `StatsIndexSpec` asserts pruned-read ≡ filtered-full-read.
  *
  * At 100 TB the index is ~10⁵–10⁶ rows (one per file) against ~10¹¹ data
  * rows — collecting the surviving FILE LIST to the driver is exactly what
  * every table format's planner does.
  *
  * This is the skipping index for PLAIN parquet directories, which have
  * no log. A TxLog table skips through the stats its own commits record
  * ([[TxLogFileIndex]], on every read) — a sidecar there would go stale
  * at the next commit.
  */
object StatsIndex {

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

  /** Build the index and persist it INSIDE the table directory as
    * `_graft_stats` (underscore-prefixed → invisible to ordinary parquet
    * reads, the lakehouse metadata-co-location convention). This is the
    * layout `plans.RewriteSkipIndexScan` consumes to prune scans
    * automatically when `spark.graft.skipIndex.path` is set.
    */
  def write(spark: SparkSession, path: String, cols: Seq[String]): Unit =
    build(spark, path, cols)
      .coalesce(1) // metadata scale: one row per data file
      .write.mode("overwrite")
      .parquet(s"$path/${graft.plans.RewriteSkipIndexScan.StatsDirName}")

  /** Files whose [min, max] box intersects the CLOSED interval [lo, hi]
    * on `c`. NULL-stat files (all-null or empty) are kept — skipping may
    * only drop files PROVEN not to match.
    */
  def pruneFiles(stats: DataFrame, c: String, lo: Long, hi: Long): Seq[String] =
    stats
      .filter(!(col(s"${c}_max") < lit(lo) || col(s"${c}_min") > lit(hi)) ||
        col(s"${c}_min").isNull)
      .select("file")
      .collect().map(_.getString(0)).toSeq

  /** Read only the files that can contain `c` ∈ [lo, hi]. The caller
    * still applies the row-level filter — the index prunes I/O, never
    * semantics.
    */
  def prunedRead(
      spark: SparkSession,
      stats: DataFrame,
      c: String,
      lo: Long,
      hi: Long
  ): DataFrame = {
    val files = pruneFiles(stats, c, lo, hi)
    if (files.isEmpty) {
      // empty selection: preserve the schema via an empty frame over the
      // full file set's schema would re-list everything — an empty
      // interval on a known column is cheaper served by filter(false)
      spark.read.parquet(stats.select("file").collect().map(_.getString(0)): _*)
        .filter(lit(false))
    } else spark.read.parquet(files: _*)
  }
}
