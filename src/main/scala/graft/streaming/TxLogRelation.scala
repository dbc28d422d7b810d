package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

import graft.gold.TxLog

/** BATCH read support for the `graft-txlog` format —
  * `spark.read.format("graft-txlog").option("path", dir).load()` and
  * `CREATE TABLE ... USING `graft-txlog`` (SQL over TxLog tables), the
  * round-12 verdict's top gap: the streaming format existed in both
  * directions while batch access was Scala-API-only (`TxLog.read`).
  *
  * Two relation shapes, chosen by the snapshot being served:
  *
  *  - **No active deletion vectors** (the common case): a native
  *    [[HadoopFsRelation]] over exactly the snapshot's files with the
  *    LOG-RECORDED schema as the authority — the ordinary distributed
  *    parquet plan, so filter pushdown, column pruning, AND the injected
  *    `RewriteTxLogStatsScan` rule (the file paths' parent is the table
  *    dir, the shape the rule matches) all apply with zero special
  *    casing. The explicit log schema also sidesteps footer MERGING's
  *    refusal of int→long widened re-declares (parquet TYPE WIDENING
  *    reads them fine — the round-12 gotcha).
  *  - **Active deletion vectors**: a [[TxLogDvRelation]] placeholder that
  *    (a) ALWAYS works — its `TableScan` fallback delegates to
  *    `TxLog.read`'s DV anti-join plan through an RDD boundary, correct
  *    in any session — and (b) in a Graft session is EXPANDED by the
  *    injected `ExpandTxLogDvScan` rule into the native anti-join plan
  *    itself (broadcast DV set, table never shuffled, pushdown intact) —
  *    the same plan `TxLog.read` builds, visible in `explain`.
  *
  * Time travel via options: `versionAsOf` (a log version) or
  * `timestampAsOf` (epoch millis, or `yyyy-MM-dd HH:mm:ss[.S]` read as
  * UTC — the engine's fixed session zone), mutually exclusive.
  */
object TxLogRelation {

  val VersionAsOfKey = "versionAsOf"
  val TimestampAsOfKey = "timestampAsOf"

  /** Parse `timestampAsOf`: epoch millis, a UTC wall-clock literal, or a
    * bare date (`'2024-01-01'` — the single most common form Delta users
    * type; read as midnight UTC, same convention as a CAST to timestamp).
    */
  private[streaming] def parseTsOption(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else if (t.matches("\\d{4}-\\d{2}-\\d{2}"))
      java.time.LocalDate.parse(t).atStartOfDay
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    else
      try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"graft-txlog: $TimestampAsOfKey must be epoch millis, " +
              s"'yyyy-MM-dd' (midnight UTC), or 'yyyy-MM-dd HH:mm:ss[.S]' " +
              s"(UTC), got '$s'", e)
      }
  }

  /** The log schema with every field (recursively) nullable — the shape
    * a file-source read serves regardless of how the writer declared its
    * frame (Spark's own file relations normalize the same way; the
    * public `asNullable` equivalent).
    */
  private[graft] def asNullableSchema(s: StructType): StructType =
    allNullable(s)

  private def allNullable(s: StructType): StructType = {
    import org.apache.spark.sql.types._
    def nt(d: DataType): DataType = d match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = nt(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(nt(et), containsNull = true)
      case MapType(k, v, _) => MapType(nt(k), nt(v), valueContainsNull = true)
      case other => other
    }
    nt(s).asInstanceOf[StructType]
  }

  /** The version the read serves, from the time-travel options. */
  private[streaming] def resolveVersion(path: String,
      parameters: Map[String, String]): Long = {
    val v = parameters.get(VersionAsOfKey).map(_.toLong)
    val ts = parameters.get(TimestampAsOfKey).map(parseTsOption)
    require(v.isEmpty || ts.isEmpty,
      s"graft-txlog: $VersionAsOfKey and $TimestampAsOfKey are mutually " +
        "exclusive - a read serves exactly one version")
    v.orElse(ts.map(TxLog.versionAtTimestamp(path, _))).getOrElse(
      TxLog.currentVersion(path).getOrElse(throw new IllegalArgumentException(
        s"graft-txlog: no TxLog table at $path")))
  }

  /** The batch relation for `path` at the options' version — see the
    * object scaladoc for the two shapes. `catalogSchema` is the schema a
    * catalog table pinned at CREATE time (Spark's resolver requires the
    * relation to return it EXACTLY); it must still match the log's
    * current schema or the read refuses with re-registration guidance —
    * serving a stale narrower schema would silently drop evolved columns.
    */
  def batchRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      catalogSchema: Option[StructType]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = TxLogSource.tablePath(parameters)
    val version = resolveVersion(path, parameters)
    val snap = TxLog.snapshot(path, Some(version))
    // file sources serve every column nullable; catalog registration
    // stored exactly this shape, so the equality below is well-defined
    val served = allNullable(snap.schema)
    catalogSchema.foreach { cat =>
      require(cat == served,
        s"graft-txlog: the catalog schema for $path no longer matches " +
          s"the log's current schema (catalog: ${cat.simpleString}; log: " +
          s"${served.simpleString}) - the table evolved after " +
          "registration; re-register it (SqlFront.refreshCatalog)")
    }
    val active = snap.dvs.filter { case (f, _) => snap.files.contains(f) }
    // CATALOG tables always get the placeholder: (a) SQL INSERT must
    // route through the commit protocol, and Spark's insert analysis
    // matches the HadoopFsRelation case BEFORE InsertableRelation — a
    // native-relation catalog table could never intercept the insert
    // (and the generic HadoopFsRelation insert would write bare parquet
    // with NO log commit: invisible orphans, silent data loss); (b) in a
    // Graft session the injected ExpandTxLogDvScan rule splices the
    // native plan back in, so SELECT keeps full pushdown/pruning — the
    // RDD-boundary TableScan only serves extension-less sessions.
    // PATH reads (spark.read.format) stay native when vector-less:
    // nothing inserts through a path read, and bare sessions keep the
    // zero-overhead plan.
    val timeTraveled = parameters.contains(VersionAsOfKey) ||
      parameters.contains(TimestampAsOfKey)
    // an ACTIVE column mapping means the files' physical names diverge
    // from the served logical schema — the native HadoopFsRelation would
    // silently null-fill renamed columns; the placeholder's expansion
    // (TxLog.read) logicalizes correctly
    val mappingActive = snap.physTombstones.nonEmpty ||
      snap.columnMap.exists { case (l, p) => l != p }
    if (active.nonEmpty || catalogSchema.isDefined || mappingActive)
      TxLogDvRelation(path, version, served, timeTraveled)(spark)
    else {
      val index = new InMemoryFileIndex(spark,
        snap.files.map(f => new Path(s"$path/$f")), Map.empty, Some(served))
      HadoopFsRelation(index, partitionSchema = StructType(Nil),
        dataSchema = served, bucketSpec = None,
        fileFormat = new ParquetFileFormat, options = Map.empty)(spark)
    }
  }

}

object TxLogCdfRelation {

  val StartingVersionKey = "startingVersion"
  val EndingVersionKey = "endingVersion"
  val StartingTimestampKey = "startingTimestamp"
  val EndingTimestampKey = "endingTimestamp"

  /** The BATCH change-feed relation — `spark.read
    * .format("graft-txlog-cdf")` (Delta's batch `readChangeFeed`):
    * row-level insert/delete changes of versions
    * [`startingVersion` (default 0), `endingVersion` (default current)],
    * the `TxLog.changes` frame behind the registered format. Same
    * placeholder + expansion design as the DV read: the `TableScan`
    * fallback keeps any session correct; `ExpandTxLogDvScan` splices the
    * native multi-version union plan in Graft sessions. The feed window
    * is vacuum-bounded exactly like the library call.
    */
  def batchRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = TxLogSource.tablePath(parameters)
    val cur = TxLog.currentVersion(path).getOrElse(
      throw new IllegalArgumentException(
        s"graft-txlog-cdf: no TxLog table at $path"))
    // version bounds or timestamp bounds per side, never both: the
    // starting side resolves FIRST-at-or-after (stream everything
    // committed from this instant on), the ending side
    // NEWEST-at-or-before (state as of this instant) — the same duals
    // the batch read / streaming floor use
    val sv = parameters.get(StartingVersionKey).map(_.toLong)
    val st = parameters.get(StartingTimestampKey)
      .map(TxLogRelation.parseTsOption)
    require(sv.isEmpty || st.isEmpty,
      s"graft-txlog-cdf: $StartingVersionKey and $StartingTimestampKey " +
        "are mutually exclusive")
    val ev = parameters.get(EndingVersionKey).map(_.toLong)
    val et = parameters.get(EndingTimestampKey)
      .map(TxLogRelation.parseTsOption)
    require(ev.isEmpty || et.isEmpty,
      s"graft-txlog-cdf: $EndingVersionKey and $EndingTimestampKey " +
        "are mutually exclusive")
    val from = sv.orElse(st.map(TxLog.firstVersionAtOrAfter(path, _)))
      .getOrElse(0L)
    val to = ev.orElse(et.map(TxLog.versionAtTimestamp(path, _)))
      .getOrElse(cur)
    require(from >= 0 && to >= from && to <= cur,
      s"graft-txlog-cdf: invalid version range [$from, $to] " +
        s"(table is at version $cur)")
    TxLogCdfRelation(path, from - 1, to,
      TxLogCdfSource.cdfSchema(TxLog.snapshot(path, Some(to)).schema))(spark)
  }
}

/** Placeholder for the batch change feed of `(fromExclusive, to]` —
  * expanded to the native `TxLog.changes` plan by `ExpandTxLogDvScan`;
  * the fallback delegates through an RDD boundary.
  */
case class TxLogCdfRelation(path: String, fromExclusive: Long, to: Long,
    override val schema: StructType)(
    @transient val session: SparkSession)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = session.sqlContext

  override def buildScan(): RDD[Row] =
    TxLog.changes(session, path, fromExclusive, to)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .rdd

  override def toString: String =
    s"TxLogCdfRelation[$path, ($fromExclusive, $to]]"
}

/** Placeholder relation for a TxLog snapshot — served for every DV'd
  * snapshot and for EVERY catalog-registered table (vectored or not):
  * it carries everything the `ExpandTxLogDvScan` rule needs to splice
  * in the native plan (anti-join when vectors are active, plain parquet
  * scan otherwise — `TxLog.read` decides), and it is the SQL
  * `INSERT INTO` seam — `InsertableRelation` routes catalog inserts
  * through the commit protocol, which a native `HadoopFsRelation` can
  * never do (Spark's insert analysis claims that shape first and would
  * write bare un-logged parquet). The `TableScan` fallback keeps
  * extension-less sessions correct (at an RDD-boundary cost the
  * expansion removes). The schema is pinned at relation-construction
  * time; the version is pinned too, so the fallback scan and the
  * expanded plan serve the SAME snapshot even if the table commits
  * between planning and execution.
  */
case class TxLogDvRelation(path: String, version: Long,
    override val schema: StructType,
    // true when the read was pinned by an explicit versionAsOf /
    // timestampAsOf option: such a relation is a FROZEN view — writing
    // "through" it would commit at the HEAD while reads stay pinned,
    // silently diverging (Delta refuses writes to time-traveled
    // relations for the same reason)
    timeTraveled: Boolean = false)(
    @transient val session: SparkSession)
  extends BaseRelation with TableScan
  with org.apache.spark.sql.sources.InsertableRelation {

  override def sqlContext: SQLContext = session.sqlContext

  // SQL INSERT INTO a TxLog snapshot: the ACID append/overwrite seam
  override def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit = {
    require(!timeTraveled,
      s"graft-txlog: this relation reads $path pinned at version " +
        s"$version (versionAsOf/timestampAsOf) - a frozen view cannot " +
        "be inserted into; write through a table registered without " +
        "time-travel options")
    TxLog.commitWithRetry(path) { v =>
      if (overwrite) TxLog.overwrite(data, path, v)
      else TxLog.append(data, path, v)
    }
    session.catalog.refreshByPath(path)
    org.apache.spark.sql.graftbridge.CatalogBridge
      .invalidateCachedRelations(session)
  }

  // project the DECLARED schema order explicitly: the TableScan row
  // conversion aligns by POSITION against `schema`, while TxLog.read's
  // column order comes from parquet footer merging — any divergence
  // would silently serve values under the wrong columns
  override def buildScan(): RDD[Row] =
    TxLog.read(session, path, asOf = Some(version))
      .select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
      .rdd

  override def toString: String = s"TxLogDvRelation[$path, v=$version]"
}
