package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.StreamingSourceBridge
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, SchemaRelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.gold.TxLog

/** INCREMENTAL streaming source over a [[graft.gold.TxLog]] table — the
  * real Delta-source shape (round 11 proved the semantics with a
  * copy-based replay harness; this replaces it as infrastructure):
  *
  *  - **Offset = log version.** `latestOffset` resolves the table's newest
  *    committed version (checkpoint-hint probe, O(commits since
  *    checkpoint)); a micro-batch covers the half-open version range
  *    `(start, end]` and reads exactly those commits' ADD files **in
  *    place** — zero copies, zero staging, the ordinary distributed
  *    parquet scan with pruning/pushdown intact.
  *  - **Orphan-blind by construction.** The batch file list comes from the
  *    version records, never a directory listing — a crashed writer's
  *    uncommitted data files are invisible, and a torn listing on an
  *    eventually-consistent store can't serve phantom files.
  *  - **Resumable.** The engine checkpoints the version offsets; a
  *    restarted query's first `getBatch` receives the checkpointed range
  *    and continues from the next version. New commits made while the
  *    query was down are picked up as ordinary new offsets.
  *  - **Append-only contract.** A version carrying REMOVE actions raises a
  *    named error (same contract as Delta's streaming source without
  *    `ignoreChanges`): row-level change consumers belong on
  *    [[graft.gold.TxLog.changes]].
  *  - **Admission control.** `maxVersionsPerTrigger` (default 1) bounds how
  *    many commits one micro-batch covers — the Delta
  *    `maxFilesPerTrigger` role. A rate-limited source must advance from
  *    the last offset handed out, not from the table head; as a
  *    `SupportsAdmissionControl` source it is given that offset by the
  *    engine (`latestOffset(start, limit)`, `start` read from the offset
  *    log on restart), so it writes nothing of its own under the
  *    checkpoint. Progress reports the table head as `latestOffset`:
  *    `latestOffset - endOffset` is the consumer's lag in versions.
  *
  * Vacuum coupling (documented, inherent): a lagging reader's next batch
  * references files only retained versions hold — vacuum with a horizon
  * shorter than the consumer's lag breaks the replay window, exactly
  * Delta's source-vs-vacuum retention coupling.
  *
  * Usage: `spark.readStream.format("graft-txlog").option("path", dir)
  * .load()` (service-registered short name), or the
  * [[EventStream.streamTxLogTable]] wrapper.
  */
class TxLogSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with SchemaRelationProvider with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-txlog"

  /** BATCH read — `spark.read.format("graft-txlog").load()` ≡
    * `TxLog.read` (DV-aware, log schema authoritative), with
    * `versionAsOf` / `timestampAsOf` time-travel options. See
    * [[TxLogRelation]].
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    TxLogRelation.batchRelation(sqlContext, parameters, None)

  /** The catalog-table path (`CREATE TABLE ... USING graft-txlog` pins
    * the schema at creation; Spark hands it back on every read and
    * requires exact equality) — refused with re-registration guidance
    * when the log has since evolved.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    TxLogRelation.batchRelation(sqlContext, parameters, Some(schema))

  /** BATCH WRITE — `df.write.format("graft-txlog").mode(...)` (and
    * `CREATE TABLE ... USING graft-txlog AS SELECT`): a non-existent
    * table is created (`TxLog.init`) under ANY mode; on an existing
    * table Append commits an ACID append, Overwrite replaces the whole
    * content in ONE commit (INSERT OVERWRITE — old files removed, DVs
    * cleared, txn watermarks kept), ErrorIfExists refuses, Ignore
    * no-ops. All writes run under `commitWithRetry`, so concurrent
    * writers serialize through the optimistic-concurrency protocol
    * instead of clobbering.
    *
    * `partitionBy` option (comma-separated column names): declares the
    * table's partition columns at CREATE (TxLog partitioning is a LOG
    * concept — partition values ride in the add actions; layout stays
    * flat); on an existing table the option must match the table's
    * declared partitioning or be absent — partitioning is immutable, so
    * a mismatch is a caller bug, refused loudly.
    *
    * `txnAppId` + `txnVersion` options (Delta's same-named batch-writer
    * options): an IDEMPOTENT append — if the table already records a
    * txn for `txnAppId` at-or-above `txnVersion`, the write is a no-op.
    * This is the exactly-once seam for MANUALLY-driven batch pipelines
    * that may re-run (orchestrator retries); both options or neither,
    * Append mode only (an idempotent overwrite is a contradiction — the
    * second run must be a no-op precisely because the first happened).
    * Without the options a batch re-run IS a second write, by design.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val path = TxLogSource.tablePath(parameters)
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val txnAppId = parameters.get("txnAppId")
    val txnVersion = parameters.get("txnVersion").map(_.toLong)
    require(txnAppId.isDefined == txnVersion.isDefined,
      "graft-txlog: txnAppId and txnVersion must be provided together - " +
        "one without the other cannot key an idempotent write")
    val exists = TxLog.currentVersion(path).isDefined
    if (!exists) {
      require(txnAppId.isEmpty,
        s"graft-txlog: txnAppId/txnVersion require an existing table at " +
          s"$path - TxLog.init (or a plain create) it first, so writer " +
          "identity never races table creation")
      new java.io.File(path).mkdirs()
      TxLog.init(data, path, partitionBy = partitionBy.getOrElse(Nil))
    } else {
      partitionBy.foreach { pb =>
        val cur = TxLog.snapshot(path).partitionCols
        require(pb == cur,
          s"graft-txlog: partitionBy (${pb.mkString(",")}) does not match " +
            s"the table's declared partitioning (${cur.mkString(",")}) at " +
            s"$path - partition columns are immutable after creation")
      }
      mode match {
        case SaveMode.ErrorIfExists => throw new IllegalArgumentException(
          s"graft-txlog: a TxLog table already exists at $path " +
            "(SaveMode.ErrorIfExists) - use Append or Overwrite")
        case SaveMode.Ignore => ()
        case SaveMode.Append => txnAppId match {
          case Some(app) =>
            TxLog.commitWithRetry(path)(v =>
              TxLog.appendIfNew(data, path, app, txnVersion.get, v))
          case None =>
            TxLog.commitWithRetry(path)(v => TxLog.append(data, path, v))
        }
        case SaveMode.Overwrite =>
          require(txnAppId.isEmpty,
            "graft-txlog: txnAppId/txnVersion are Append-only - an " +
              "\"idempotent overwrite\" would have to no-op the re-run " +
              "whose whole point is replacing the content; sequence " +
              "overwrites through versions instead")
          TxLog.commitWithRetry(path)(v => TxLog.overwrite(data, path, v))
      }
    }
    TxLogRelation.batchRelation(sqlContext,
      parameters - TxLogRelation.VersionAsOfKey -
        TxLogRelation.TimestampAsOfKey, None)
  }

  /** The SINK side of the same format — `df.writeStream
    * .format("graft-txlog").option("path", dir).option("appId", id)` is
    * the EXACTLY-ONCE TxLog ingestion [[EventStream.replayIntoTxLog]]
    * proves through `foreachBatch`, packaged as a declarative sink: every
    * micro-batch commits via `TxLog.appendIfNew` under `commitWithRetry`,
    * so the engine's at-least-once batch redelivery (restart after a
    * sink-success/engine-commit crash window) re-applies NOTHING — the
    * per-app txn watermark skips at-or-below batches (the Delta sink's
    * txn-action pattern, and together with the source side it closes the
    * loop: TxLog table → `graft-txlog` stream → `graft-txlog` sink →
    * TxLog table, exactly-once end to end).
    *
    * `appId` is REQUIRED and is the writer identity the exactly-once
    * guarantee keys on: the V1 sink API does not expose the streaming
    * query's id, and deriving one from, say, the checkpoint path would
    * silently change identity when a checkpoint moves — two different
    * appIds ingest the same batches TWICE. Choose one stable id per
    * logical pipeline and never share it across pipelines. Append mode
    * only (the table is an append target; aggregating queries belong in
    * front of a complete/update-mode consumer, not inside an ACID append
    * sink), and the table must already exist (`TxLog.init`) — implicit
    * creation racing multiple queries would turn a deploy mistake into
    * two tables' worth of interleaved schemas.
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-txlog sink: only Append output mode is supported (got " +
        s"$outputMode) - the sink commits each micro-batch as an ACID " +
        "append; updating semantics belong on a keyed consumer")
    require(partitionColumns.isEmpty,
      "graft-txlog sink: a writeStream partitionBy clause is not " +
        "supported - partitioning belongs to the TABLE (declare it at " +
        "TxLog.init(partitionBy); the sink's appends then honor it " +
        "automatically), so two queries can never disagree about layout")
    val path = TxLogSource.tablePath(parameters)
    val appId = parameters.getOrElse("appId",
      throw new IllegalArgumentException(
        "graft-txlog sink: 'appId' option is required - it is the stable " +
          "writer identity the exactly-once txn watermark keys on"))
    require(appId.nonEmpty, "graft-txlog sink: appId must be non-empty")
    require(TxLog.currentVersion(path).isDefined,
      s"graft-txlog sink: no TxLog table at $path - TxLog.init it first " +
        "(implicit creation under concurrent queries is a footgun)")
    new TxLogSink(sqlContext.sparkSession, path, appId,
      parameters.get(TxLogSink.FaultInjectKey).map(_.toLong))
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = TxLogSource.tablePath(parameters)
    (shortName(),
      schema.getOrElse(TxLogSource.tableSchema(path)))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val path = TxLogSource.tablePath(parameters)
    val sch = schema.getOrElse(TxLogSource.tableSchema(path))
    val maxVersions = TxLogSource.maxVersionsOf(parameters, "graft-txlog")
    val partitionFilter = parameters.get(TxLogSource.PartitionFilterKey)
    partitionFilter.foreach { _ =>
      require(TxLog.snapshot(path).partitionCols.nonEmpty,
        s"graft-txlog source: ${TxLogSource.PartitionFilterKey} requires " +
          s"a PARTITIONED table at $path (initialize with partitionBy)")
    }
    new TxLogSource(sqlContext.sparkSession, path, sch, metadataPath,
      maxVersions, TxLogSource.startingVersionOf(parameters, path),
      TxLogSource.ignoreDeletesOf(parameters),
      TxLogSource.maxBytesOf(parameters),
      partitionFilter)
  }
}

/** The V1 sink behind `writeStream.format("graft-txlog")` — see
  * [[TxLogSourceProvider.createSink]] for the contract. `addBatch` first
  * re-wraps the engine's streaming-planned micro-batch as a batch view
  * (the ForeachBatchSink bridge — a streaming-flagged plan cannot be
  * written), then commits through `appendIfNew`: on a redelivered batchId
  * the snapshot's per-app watermark makes the whole call a no-op BEFORE
  * any data file is written, so retries cost metadata reads only.
  */
class TxLogSink(spark: SparkSession, tablePath: String, appId: String,
    faultInjectFailAfterBatch: Option[Long] = None)
    extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // redelivery probe for the fault hook below: a batch whose id is
    // at-or-below the recorded watermark is the engine re-running a
    // batch it crashed before committing — the injected failure must not
    // re-fire on it or the query could never recover
    val redelivered =
      TxLog.snapshot(tablePath).txns.get(appId).exists(_ >= batchId)
    val batch = StreamingSourceBridge.sinkBatchView(data)
    TxLog.commitWithRetry(tablePath)(v =>
      TxLog.appendIfNew(batch, tablePath, appId, batchId, v))
    if (!redelivered && faultInjectFailAfterBatch.contains(batchId))
      throw new IllegalStateException(
        s"graft-txlog sink: INJECTED failure after committing batch " +
          s"$batchId (option '${TxLogSink.FaultInjectKey}' - crash-window " +
          "fault injection: the table commit succeeded, the engine's " +
          "checkpoint commit will not, so a restart MUST redeliver this " +
          "batch and the txn watermark MUST no-op it)")
  }

  override def toString: String = s"TxLogSink[$tablePath, app=$appId]"
}

object TxLogSink {
  /** TEST-ONLY fault injection: fail the query AFTER `appendIfNew` for
    * this batchId succeeds but BEFORE the engine can write the batch's
    * commit marker — the exact at-least-once crash window the txn
    * watermark exists for. The failure fires only on the batch's FIRST
    * delivery (a redelivered batch is recognized by the watermark and
    * passes), so a restarted query recovers and the no-op redelivery is
    * observable end-to-end.
    */
  val FaultInjectKey = "faultInjectFailAfterBatch"
}

object TxLogSource {
  val MaxVersionsKey = "maxVersionsPerTrigger"

  /** `ignoreDeletes` (Delta's same-named option): let DELETE-ONLY commits
    * (retention cleanup — remove actions, no adds) pass through the
    * append stream as empty batches instead of raising. The deleted
    * rows were already served when their files were ADDED, so a
    * downstream consumer keeps them — exactly Delta's documented
    * contract. Commits that REWRITE data (remove + add together, i.e.
    * update/merge/compaction) still raise: serving their adds would
    * re-deliver rows the consumer already holds.
    */
  val IgnoreDeletesKey = "ignoreDeletes"

  private[streaming] def ignoreDeletesOf(parameters: Map[String, String]): Boolean =
    parameters.get(IgnoreDeletesKey).exists(_.toBoolean)

  /** `startingVersion`: first committed version a FRESH query reads
    * (default 0 = the whole table — Delta's same-named option). The floor
    * is a fresh-start device: a resumed query's checkpointed offsets take
    * over, and RAISING it on an existing checkpoint skips ahead to the new
    * floor (versions between the latest logged offset and the new floor are
    * never served).
    */
  val StartingVersionKey = "startingVersion"

  /** `maxBytesPerTrigger` (Delta's same-named option): soft byte budget
    * per micro-batch — `latestOffset` stops admitting versions once the
    * accumulated data-file bytes of the versions already admitted would
    * exceed it, but always admits AT LEAST ONE version (a budget below
    * the smallest commit must not starve the stream — Delta's
    * minimum-one-file rule). Composes with `maxVersionsPerTrigger`
    * (whichever bound binds first). The append source budgets a
    * version's ADD bytes; the CDF source budgets add + remove (its
    * batches read both sides).
    */
  val MaxBytesKey = "maxBytesPerTrigger"

  private[streaming] def maxBytesOf(parameters: Map[String, String]): Option[Long] = {
    val mb = parameters.get(MaxBytesKey).map(_.toLong)
    mb.foreach(b => require(b >= 1,
      s"graft-txlog: $MaxBytesKey must be >= 1 (got $b)"))
    mb
  }

  /** Version cap per trigger: explicit option wins; otherwise 1 —
    * UNLESS a byte budget alone was given, where a 1-version cap would
    * silently make the budget inert (the byte walk then bounds the
    * batch; the cap is a large overflow-safe sentinel, not
    * Long.MaxValue, because `start + cap` must not wrap).
    */
  private[streaming] def maxVersionsOf(parameters: Map[String, String],
      name: String): Long = {
    val explicit = parameters.get(MaxVersionsKey).map(_.toLong)
    explicit.foreach(mv => require(mv >= 1,
      s"$name: $MaxVersionsKey must be >= 1 (got $mv)"))
    explicit.getOrElse(
      if (parameters.contains(MaxBytesKey)) 1L << 40 else 1L)
  }

  /** `partitionFilter` (append source only): a SQL predicate over the
    * table's PARTITION COLUMNS — the stream serves only the matching
    * partitions' adds, decided per version from the log's recorded
    * partition values (zero data-file access before the batch read; at
    * a 100-TB table, a consumer of one date must not read every
    * version's adds). The filtered view is APPEND-ONLY on its own terms:
    * deletes that touch only OTHER partitions pass as invisible
    * (dropping yesterday's partition cannot poison a stream tailing
    * today's); deletes touching the FILTERED partitions keep the
    * ordinary contract (raise, or pass under `ignoreDeletes` when
    * delete-only).
    */
  val PartitionFilterKey = "partitionFilter"

  /** `startingTimestamp` (Delta's same-named option): the fresh-query
    * floor as an INSTANT instead of a version — resolves to the first
    * version committed at or after it ([[TxLog.firstVersionAtOrAfter]]
    * on the clamped monotone stamps). Same fresh-start-only contract as
    * `startingVersion`; mutually exclusive with it.
    */
  val StartingTimestampKey = "startingTimestamp"

  private[streaming] def startingVersionOf(parameters: Map[String, String],
      path: String): Long = {
    val sv = parameters.get(StartingVersionKey).map(_.toLong)
    val st = parameters.get(StartingTimestampKey)
      .map(TxLogRelation.parseTsOption)
    require(sv.isEmpty || st.isEmpty,
      s"graft-txlog: $StartingVersionKey and $StartingTimestampKey are " +
        "mutually exclusive")
    sv.foreach(v => require(v >= 0,
      s"graft-txlog: $StartingVersionKey must be >= 0 (got $v)"))
    sv.orElse(st.map(TxLog.firstVersionAtOrAfter(path, _))).getOrElse(0L)
  }

  /** The OLDEST version a checkpointed `graft-txlog` / `graft-txlog-cdf`
    * query can still need: (last COMMITTED batch's end offset) + 1 — a
    * restart redelivers everything above the last commit, so versions at
    * or above this floor must outlive vacuum. Pass the result as
    * `TxLog.vacuum(readerFloor = ...)` to arm the lag alert for a real
    * consumer. NOT the latest logged offset + 1: offsets are logged BEFORE
    * their batch commits, so versions in (lastCommitted, latestLogged] are
    * re-read on restart — a floor above the last commit would
    * under-protect exactly them. Reads the engine's v1 checkpoint layout
    * (`commits/<n>`, `offsets/<n>`: "v1", metadata, one offset line per
    * source) — the stable public format FileStreamSource queries have
    * used across Spark versions. A checkpoint with no commits floors at
    * 0 (a fresh query needs everything).
    */
  def committedReaderFloor(spark: SparkSession, checkpointLocation: String,
      sourceIndex: Int = 0): Long = {
    val root = new org.apache.hadoop.fs.Path(checkpointLocation)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lastCommittedEndOffset(fs, root, sourceIndex).map(_ + 1L).getOrElse(0L)
  }

  /** The last COMMITTED batch's end offset for source `sourceIndex` in
    * the v1 checkpoint at `root` (`commits/<n>` names the batch,
    * `offsets/<n>` is "v1", metadata json, then one serialized offset
    * per source). None when no batch has committed. Raises on a
    * non-numeric offset line — that source is not a version-offset
    * source.
    */
  private[streaming] def lastCommittedEndOffset(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, sourceIndex: Int): Option[Long] = {
    val commits = new org.apache.hadoop.fs.Path(root, "commits")
    if (!fs.exists(commits)) return None
    val ids = fs.listStatus(commits).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    if (ids.isEmpty) return None
    val off = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "offsets"), ids.max.toString)
    val in = fs.open(off)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val offsetLines = lines.drop(2)
    require(sourceIndex >= 0 && sourceIndex < offsetLines.length,
      s"graft-txlog: checkpoint $root has ${offsetLines.length} source " +
        s"offset(s); index $sourceIndex does not exist")
    val line = offsetLines(sourceIndex).trim
    if (line == "-") None
    else
      try Some(line.toLong)
      catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"graft-txlog: offset line '$line' in $off is not a version " +
            s"offset - is source index $sourceIndex a graft-txlog source?")
      }
  }

  private[graft] def tablePath(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-txlog source: 'path' option (the TxLog table dir) is required"))
    // a catalog table's stored location arrives as a Hadoop URI STRING
    // ("file:/tmp/t") — TxLog's local-FS IO would treat it as a RELATIVE
    // path (the round-12 metadataPath gotcha, same class); strip the
    // file scheme. Non-file schemes pass through untouched (TxLog is
    // documented local-FS; a remote scheme fails loudly downstream).
    val uri = new org.apache.hadoop.fs.Path(raw).toUri
    if (uri.getScheme == null) raw
    else if (uri.getScheme == "file") uri.getPath
    else raw
  }

  /** The table's schema at its current version: the log's recorded schema
    * (authoritative even for file-less versions), AS-NULLABLE (the
    * file-source convention, same as catalog registration): a stream MUST
    * declare nullable columns because batches legitimately null-fill —
    * files predating an added/re-added column, tombstone projections
    * under column mapping. Declaring the
    * recorded nullability instead is a REAL silent-corruption hazard
    * (caught by the round-15 column-mapping stream spec): an append can
    * narrow a recorded column to non-nullable (mergeSchemas keeps the
    * written field), and the engine's projection over a non-nullable
    * attribute turns every null-filled value into 0 — no error, wrong
    * data.
    */
  private[streaming] def tableSchema(path: String): StructType =
    TxLogRelation.asNullableSchema(TxLog.snapshot(path).schema)
}

/** The version-offset machinery shared by both TxLog streaming sources
  * ([[TxLogSource]] append rows, [[TxLogCdfSource]] change rows): offsets
  * are log versions, and the engine's offset log is the only record of a
  * stream's position. The source is a V1 `Source` with
  * `SupportsAdmissionControl`, so `MicroBatchExecution` calls
  * `latestOffset(start, limit)` with its own start offset (the last
  * logged end, or null on a fresh query) instead of `getOffset`; the
  * source advances at most `maxVersionsPerTrigger` past that start and
  * keeps no position of its own. Batch CONTENT always derives from the
  * version records.
  */
abstract class TxLogVersionedSource(
    protected val spark: SparkSession,
    protected val tablePath: String,
    metadataPath: String,
    maxVersionsPerTrigger: Long,
    startingVersion: Long,
    maxBytesPerTrigger: Option[Long] = None)
  extends Source with SupportsAdmissionControl {

  /** The COLUMN MAPPING pinned at query start (round-14 verdict item 3 —
    * streaming over renamed/dropped tables): batch files are read under
    * the PHYSICALIZED pinned schema and projected back to the pinned
    * LOGICAL names, so a column-mapped table streams like any other.
    * Physical names are stable for a logical column's lifetime (rename is
    * metadata-only), which is what makes pin-at-start sound: a mid-stream
    * RENAME keeps serving the query-start names (the row shape never
    * silently changes — restart to pick up the new names), a mid-stream
    * DROP null-fills the column in post-drop files (the values are gone —
    * that IS the table's meaning), and only a genuinely NEW physical
    * column (ADD COLUMN, or a drop + same-name re-add's resurrect-guarded
    * fresh physical) trips the widen contract's named restart error.
    */
  protected val (pinnedColumnMap: Map[String, String],
      pinnedTombstones: Set[String]) = {
    val head = TxLog.snapshot(tablePath)
    (head.columnMap, head.physTombstones)
  }

  /** Batch covering committed versions `(from, to]`, both bounds resolved. */
  protected def batchFor(fromExclusive: Long, toInclusive: Long): DataFrame

  /** Version `v`'s contribution to the `maxBytesPerTrigger` budget —
    * what a batch covering it would physically read (source-specific).
    */
  protected def versionBytes(v: Long): Long

  private def versionOf(o: OffsetV2): Long = o.json.trim.toLong

  /** The schema this source PINNED at query start (both sources read
    * every batch file with it — pre-evolution files null-fill).
    */
  protected def pinnedSchema: StructType

  /** The pinned schema under PHYSICAL column names — what batch files
    * are actually read with (explicit-schema read: columns a file lacks
    * null-fill, tombstoned physicals are simply never requested).
    */
  protected final lazy val physicalPinnedSchema: StructType =
    StructType(pinnedSchema.fields.map(f =>
      f.copy(name = pinnedColumnMap.getOrElse(f.name, f.name))))

  private lazy val mappingIsIdentity: Boolean =
    pinnedColumnMap.forall { case (l, p) => l == p }

  /** Project a physical-name batch frame back to the pinned LOGICAL
    * names (`extra` metadata tag columns pass through). Returns the
    * frame UNTOUCHED on unmapped tables — no extra plan node, so
    * plan-shape pins on mapping-free streams are unchanged.
    */
  protected final def logicalizeBatch(df: DataFrame,
      extra: Seq[String] = Nil): DataFrame =
    if (mappingIsIdentity) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(pinnedSchema.fields.toSeq.map(f =>
        col(pinnedColumnMap.getOrElse(f.name, f.name)).as(f.name)) ++
        extra.map(col): _*)
    }

  /** SCHEMA-EVOLUTION CONTRACT (the Delta source's): a batch whose
    * covered versions WIDEN the table schema beyond the pinned one fails
    * with a named error — reading the new files through the pinned
    * (narrower) schema would silently DROP the new column from every row
    * this stream ever serves, and silently switching schemas mid-stream
    * would break downstream consumers' row shape. The query must RESTART:
    * source construction re-derives the schema from the log, the
    * checkpointed offsets resume, and pre-evolution files null-fill the
    * widened columns. A NARROWED log schema (RESTORE past a widening) is
    * allowed through: reading old wide files with the pinned wider schema
    * loses nothing.
    */
  protected final def checkSchemaPinned(toInclusive: Long): Unit = {
    val snap = TxLog.snapshot(tablePath, Some(toInclusive))
    // the comparison is keyed on PHYSICAL names (column mapping): a
    // renamed column keeps its physical identity, so it matches its
    // pinned self and streams on under the pinned logical name; a
    // fresh physical name is genuinely new data the pinned read would
    // silently drop — the widen contract below refuses it by (logical)
    // name. Identity mapping degenerates to the original logical-name
    // comparison.
    val pinned = pinnedSchema.fields.map(f =>
      pinnedColumnMap.getOrElse(f.name, f.name) -> f.dataType).toMap
    def physOf(n: String): String = snap.columnMap.getOrElse(n, n)
    // a column whose physical is TOMBSTONED at pin time is DROPPED
    // data, not new data: the pinned read correctly omits it (reading
    // a pre-drop version of the table through the current schema — the
    // same contract as the batch read's tombstone projection)
    val added = snap.schema.fields.filterNot(f => pinned.contains(physOf(f.name))
        || pinnedTombstones.contains(physOf(f.name)))
      .map(_.name)
    // a same-name TYPE widen (int→long re-declare, legal in the log)
    // is the same hazard: the pinned narrower read of the new files
    // would fail or truncate. The REVERSE direction is fine — a
    // restarted query pins the WIDE schema while old versions record
    // the narrow one, and reading narrow files through a wider pinned
    // type is exactly the null-fill/widen contract.
    def readsLosslessly(log: org.apache.spark.sql.types.DataType,
        pin: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      def rank(d: DataType): Int = d match {
        case ByteType => 0; case ShortType => 1
        case IntegerType => 2; case LongType => 3; case _ => -1
      }
      log == pin || ((log, pin) match {
        case (FloatType, DoubleType) => true
        case (d1: DecimalType, d2: DecimalType) =>
          d1.scale == d2.scale && d1.precision <= d2.precision
        case _ => rank(log) >= 0 && rank(pin) >= 0 && rank(log) <= rank(pin)
      })
    }
    val widened = snap.schema.fields.filter(f =>
      pinned.get(physOf(f.name)).exists(p =>
        !readsLosslessly(f.dataType, p)))
      .map(_.name)
    val offending = added ++ widened
    if (offending.nonEmpty) throw new IllegalStateException(
      s"graft-txlog source: the table schema at $tablePath widened " +
        s"mid-stream (column(s): ${offending.mkString(", ")}; version " +
        s"$toInclusive) - this stream pinned the query-start schema " +
        "and will not silently drop or misread the new data. Restart " +
        "the query: it resumes from its checkpoint with the widened " +
        "schema (pre-evolution files null-fill).")
  }

  /** The table head the last [[latestOffset]] call saw; None before the
    * first call. */
  @volatile private var headSeen: Option[Long] = None

  /** Admits at most `maxVersionsPerTrigger` versions past the engine's
    * start offset (or past `startingVersion - 1` on a fresh query), cut
    * short by the `maxBytesPerTrigger` walk. `limit` is ignored: the
    * options above are this source's only admission control.
    */
  final override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur = TxLog.currentVersion(tablePath)
    headSeen = cur
    cur.map { head =>
      val from = math.max(Option(start).map(versionOf).getOrElse(-1L),
        startingVersion - 1)
      val capped = math.min(head, from + maxVersionsPerTrigger)
      maxBytesPerTrigger match {
        case None => LongOffset(capped)
        case Some(budget) =>
          // admit versions until the budget binds — but always at least
          // one (a budget below the smallest commit must not starve the
          // stream). Record-metadata walk only; O(admitted versions).
          var v = from
          var bytes = 0L
          var stop = false
          while (!stop && v < capped) {
            val nb = versionBytes(v + 1)
            if (v > from && bytes + nb > budget) stop = true
            else { v += 1; bytes += nb }
          }
          LongOffset(v)
      }
    }.orNull
  }

  /** The table head at the last trigger: progress `latestOffset` minus
    * `endOffset` is the consumer's lag in versions. */
  override def reportLatestOffset(): OffsetV2 = headSeen.map(LongOffset(_)).orNull

  override def getOffset: Option[OffsetV1] = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** The engine's last COMMITTED batch end offset (a log version), read
    * from the checkpoint this source's metadata dir (`<ckpt>/sources/<i>`)
    * lives under, used ONLY to recognize already-committed ranges. None
    * when unreadable (fail open to the normal batch path, whose own errors
    * are loud).
    */
  private def engineCommittedEnd: Option[Long] =
    try {
      val dir = new org.apache.hadoop.fs.Path(metadataPath)
      val root = Option(dir.getParent).flatMap(p =>
        Option(p.getParent)).getOrElse(return None)
      TxLogSource.lastCommittedEndOffset(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, dir.getName.toInt)
    } catch { case scala.util.control.NonFatal(_) => None }

  final override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    // the starting-version floor applies only when the engine has no
    // checkpointed start (a fresh query); a resumed query's own offsets
    // take over from there
    val from = math.max(start.map(versionOf).getOrElse(-1L),
      startingVersion - 1) // exclusive
    val to = versionOf(end) // inclusive
    // RESTART-INITIALIZATION calls: on every restart MicroBatchExecution
    // re-calls getBatch for the first logged batch's range even when that
    // batch is COMMITTED — the frame is never executed. Before vacuum
    // existed this only wasted a log walk; once vacuum drops the covered
    // versions the eager record parse would CRASH a perfectly healthy
    // restart (caught by the committedReaderFloor spec). A range ending
    // at or below the engine's own committed offset was fully delivered:
    // serving it empty is exact. The engine makes these calls before its
    // first latestOffset, so steady-state batches never read the checkpoint.
    if (headSeen.isEmpty && engineCommittedEnd.exists(_ >= to))
      StreamingSourceBridge.emptyStreamingBatch(spark, schema)
    else batchFor(from, to)
  }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"${getClass.getSimpleName}[$tablePath]"
}

class TxLogSource(
    spark: SparkSession,
    tablePath: String,
    override val schema: StructType,
    metadataPath: String,
    maxVersionsPerTrigger: Long,
    startingVersion: Long = 0L,
    ignoreDeletes: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None,
    partitionFilter: Option[String] = None)
  extends TxLogVersionedSource(spark, tablePath, metadataPath,
    maxVersionsPerTrigger, startingVersion, maxBytesPerTrigger) {

  /** The per-version partition view under `partitionFilter` — cached
    * because the byte-budget walk and the batch build both consult it,
    * and version records are immutable so the cache is exact. Bounded
    * (a long-lived stream must not accumulate an entry per version
    * forever); LRU-ish eviction via insertion order is fine for a
    * consumer that touches each version a handful of times around its
    * admission.
    */
  private val viewCache =
    new java.util.LinkedHashMap[Long, (Seq[String], Boolean)](64, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, (Seq[String], Boolean)]): Boolean =
        size() > 4096
    }

  private def partitionView(cond: String, v: Long): (Seq[String], Boolean) =
    viewCache.synchronized {
      val hit = viewCache.get(v)
      if (hit != null) hit
      else {
        val computed = TxLog.versionPartitionView(spark, tablePath, v,
          org.apache.spark.sql.functions.expr(cond))
        viewCache.put(v, computed)
        computed
      }
    }

  // log-recorded add-action sizes (zero filesystem stats for files with
  // stats; a file of a table with no stats-eligible column has none and
  // pays one Hadoop-FS stat — never java.io.File.length(), which is
  // silently 0 off local FS and would make the byte budget inert with no
  // error). Under a partition filter
  // the budget counts only the files this stream will actually read.
  protected def versionBytes(v: Long): Long = partitionFilter match {
    case None => TxLog.versionAddBytes(tablePath, v,
      spark.sparkContext.hadoopConfiguration)
    case Some(cond) => TxLog.versionAddBytesOf(tablePath, v,
      partitionView(cond, v)._1, spark.sparkContext.hadoopConfiguration)
  }

  protected def pinnedSchema: StructType = schema

  protected def batchFor(from: Long, to: Long): DataFrame = {
    checkSchemaPinned(to)
    val files = (from + 1 to to).flatMap { v =>
      val (added, removed) = TxLog.fileActions(tablePath, v)
      // under a partition filter, adds restrict to the matching
      // partitions and only deletes TOUCHING them count as deletes —
      // the filtered view is append-only on its own terms
      val (servedAdds, deletish) = partitionFilter match {
        case None =>
          // a deletion-vector commit is a delete-class commit: rows the
          // consumer already holds just died — same contract as removes
          (added,
            removed.nonEmpty || TxLog.hasDvActions(tablePath, v))
        case Some(cond) => partitionView(cond, v)
      }
      if (deletish) {
        // delete-ONLY commits (retention cleanup / soft deletes) may pass
        // under ignoreDeletes — their rows were served when the files
        // were added. A remove+add REWRITE never passes: its adds carry
        // rows the consumer already holds (Delta draws the same line
        // between ignoreDeletes and ignoreChanges; the latter knowingly
        // re-delivers and is deliberately NOT offered here — row-level
        // consumers belong on the CDF source).
        if (!(ignoreDeletes && servedAdds.isEmpty)) throw new IllegalStateException(
          s"graft-txlog source: version $v of $tablePath removes rows " +
            "(file removes or deletion vectors" +
            partitionFilter.map(f => s" within partitionFilter '$f'")
              .getOrElse("") + ") - this source streams " +
            "APPEND-ONLY tables (set ignoreDeletes to pass delete-only " +
            "commits; row-level change consumers belong on the " +
            "graft-txlog-cdf source / TxLog.changes)")
      }
      servedAdds
    }
    if (files.isEmpty) StreamingSourceBridge.emptyStreamingBatch(spark, schema)
    else logicalizeBatch(StreamingSourceBridge.streamingFileBatch(spark,
      physicalPinnedSchema, files.map(f => s"$tablePath/$f")))
  }
}

/** STREAMING CHANGE DATA FEED over a TxLog table — the Delta
  * `readChangeFeed` streaming shape, built on the same version-offset
  * machinery as [[TxLogSource]]: each micro-batch carries the covered
  * versions' ROW-LEVEL changes — every row of a commit's removed files as
  * `_change_type = 'delete'` and every row of its added files as
  * `'insert'`, tagged `_commit_version` — so delete/replace/compact
  * commits stream too (exactly [[graft.gold.TxLog.changes]], incremental).
  * Within a version deletes precede inserts in the batch's union order;
  * consumers that fold by key must apply per `_commit_version` in
  * ascending order (the [[EventStream.applyCdfBatch]] consumer does).
  *
  * Every file is read IN PLACE with the query-start schema pinned
  * (pre-evolution files null-fill the widened columns — the same contract
  * as the batch feed's union alignment). Vacuum coupling is inherited
  * from the batch feed and is one notch tighter here: a lagging stream's
  * next batch needs the REMOVED files of its uncommitted versions still
  * on disk, so retention must cover consumer lag (Delta's CDF retention
  * coupling).
  *
  * Usage: `spark.readStream.format("graft-txlog-cdf").option("path", dir)
  * .load()`.
  */
class TxLogCdfSourceProvider extends StreamSourceProvider
    with RelationProvider with SchemaRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-txlog-cdf"

  /** BATCH change feed — `spark.read.format("graft-txlog-cdf")` with
    * `startingVersion`/`endingVersion` (both inclusive). See
    * [[TxLogCdfRelation.batchRelation]].
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    TxLogCdfRelation.batchRelation(sqlContext, parameters)

  /** Catalog-table path (`CREATE TABLE ... USING graft-txlog-cdf` pins
    * the CDF schema at creation) — SQL over a change feed. Refused with
    * re-registration guidance when the table schema evolved since.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation = {
    val rel = TxLogCdfRelation.batchRelation(sqlContext, parameters)
    require(rel.schema == schema,
      s"graft-txlog-cdf: the catalog schema no longer matches the feed " +
        s"schema (catalog: ${schema.simpleString}; feed: " +
        s"${rel.schema.simpleString}) - the table evolved after " +
        "registration; re-register it")
    rel
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = TxLogSource.tablePath(parameters)
    (shortName(), schema.getOrElse(TxLogCdfSource.cdfSchema(
      TxLogSource.tableSchema(path))))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val path = TxLogSource.tablePath(parameters)
    require(!parameters.contains(TxLogSource.PartitionFilterKey),
      s"graft-txlog-cdf: ${TxLogSource.PartitionFilterKey} is not " +
        "supported on the change feed (a change-row consumer filters " +
        "rows, not files: add .filter(...) on the stream; file-level " +
        "partition admission is the APPEND source's contract)")
    val dataSchema = TxLogSource.tableSchema(path)
    val maxVersions = TxLogSource.maxVersionsOf(parameters, "graft-txlog-cdf")
    new TxLogCdfSource(sqlContext.sparkSession, path, dataSchema,
      metadataPath, maxVersions, TxLogSource.startingVersionOf(parameters, path),
      TxLogSource.maxBytesOf(parameters))
  }
}

object TxLogCdfSource {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def cdfSchema(data: StructType): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType}
    data.add(ChangeTypeCol, StringType, nullable = false)
      .add(CommitVersionCol, LongType, nullable = false)
  }
}

class TxLogCdfSource(
    spark: SparkSession,
    tablePath: String,
    dataSchema: StructType,
    metadataPath: String,
    maxVersionsPerTrigger: Long,
    startingVersion: Long = 0L,
    maxBytesPerTrigger: Option[Long] = None)
  extends TxLogVersionedSource(spark, tablePath, metadataPath,
    maxVersionsPerTrigger, startingVersion, maxBytesPerTrigger) {

  override val schema: StructType = TxLogCdfSource.cdfSchema(dataSchema)

  // CDF batches read BOTH sides of a version's actions; removed files'
  // sizes come from the pre-version snapshot's stats map (log metadata)
  protected def versionBytes(v: Long): Long =
    TxLog.versionChangeBytes(tablePath, v,
      spark.sparkContext.hadoopConfiguration)

  protected def pinnedSchema: StructType = dataSchema

  protected def batchFor(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    checkSchemaPinned(to)
    // the shared per-version emission core (TxLog.versionChangeParts) —
    // DV-aware like the batch feed — fed a STREAMING loader: each
    // version's files read in place as streaming-flagged frames with the
    // (file_name, row_index) metadata columns attached; the DV
    // anti/semi-joins the core composes on top are stream-static joins
    // with metadata-scale static sides. dataSchema pinned at query start
    // (not each version's recorded schema — `at` goes unused — because a
    // stream serves one row shape): narrower pre-evolution files
    // null-fill, every part has IDENTICAL shape, so the union below needs
    // no name-based alignment.
    def loadMeta(files: Seq[String], at: TxLog.Snapshot): DataFrame =
      logicalizeBatch(
        StreamingSourceBridge.streamingFileBatch(spark, physicalPinnedSchema,
            files.map(f => s"$tablePath/$f"))
          .withColumn(TxLog.MetaFileCol, col("_metadata.file_name"))
          .withColumn(TxLog.MetaRiCol, col("_metadata.row_index")),
        extra = Seq(TxLog.MetaFileCol, TxLog.MetaRiCol))
    var state = TxLog.resolve(tablePath, from)
    val parts = Seq.newBuilder[DataFrame]
    (from + 1 to to).foreach { v =>
      val (ps, after) = TxLog.versionChangeParts(spark, tablePath, v,
        state, loadMeta)
      parts ++= ps; state = after
    }
    val all = parts.result()
    if (all.isEmpty) StreamingSourceBridge.emptyStreamingBatch(spark, schema)
    // pin the batch shape to the declared CDF `schema` explicitly: the
    // core's parts happen to emit (data cols, _change_type,
    // _commit_version) in this order today, but the positional unionAll
    // above must never depend on that staying true
    else all.reduce(_.unionAll(_)).select(schema.fieldNames.map(col): _*)
  }
}
