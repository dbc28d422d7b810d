package graft.gold

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode, TextNode}

/** Minimal OWN commit log — the transactional kernel of a lakehouse table
  * format (Delta's `_delta_log`, Iceberg's snapshots), re-expressed over
  * plain parquet. The real formats are environment-blocked (SCALING.md
  * §ACID: the offline cache ships no lakehouse artifacts), and a full
  * spec-compatible implementation would be out of scope — but the
  * SEMANTICS a user actually relies on are small and testable end-to-end:
  *
  *  - **Atomic commits / readers never see partial writes**: data files are
  *    written FIRST (immutable, never mutated in place), then a version
  *    file `_graft_txlog/<v>.json` is published ATOMICALLY WITH ITS
  *    CONTENT through a [[CommitPrimitive]] — a version file either does
  *    not exist or is complete; readers resolve the newest version and
  *    replay the log to its file list, and an interrupted writer leaves
  *    only invisible orphans (never a torn or empty version file).
  *  - **Delta-encoded commits**: each version file records only the ADD and
  *    REMOVE actions of its commit (Delta's add/remove actions), so commit
  *    metadata is O(changed files), not O(table files) — at 10⁵–10⁶ files
  *    a 1-row append must not write tens of MB of metadata. Every
  *    [[CheckpointInterval]] commits a full-file-list CHECKPOINT file
  *    (`<v>.checkpoint.parquet`) is written alongside; [[snapshot]] resolves
  *    newest-checkpoint-≤-v and replays only the tail, so read-side log
  *    cost is O(commits since checkpoint) too. Checkpoints written at
  *    commit time are advisory (corrupt/missing → longer replay, same
  *    answer); the one [[vacuum]] writes at the oldest retained version is
  *    LOAD-BEARING (it replaces the history vacuum deletes) and is written
  *    atomically BEFORE anything is dropped.
  *  - **Optimistic concurrency**: the atomic publish fails if the version
  *    already exists; two writers racing the same version → exactly one
  *    wins, the loser gets a named `ConcurrentModificationException` and
  *    must re-read + retry (the Delta/Iceberg commit protocol —
  *    [[commitWithRetry]] packages the loop, with structured conflict
  *    alerts so operators see contention).
  *  - **Snapshot isolation + time travel**: `read(asOf = v)` serves any
  *    retained version — versions are immutable once written.
  *  - **Idempotent-writer watermarks** (Delta's txn action): a commit may
  *    carry a `(appId, batchId)` tag; [[appendIfNew]] skips any batch at
  *    or below the appId's recorded watermark, which is the exactly-once
  *    seam a streaming `foreachBatch` sink needs under at-least-once
  *    redelivery. The accumulated map rides in every [[Snapshot]] and is
  *    persisted by every checkpoint, so it survives vacuum dropping the
  *    action history.
  *  - **Schema in the log**: every version record and every checkpoint
  *    carries the table schema known at that commit (base schema widened
  *    by the written data's schema — Delta stores table metadata in the
  *    log for the same reason). The recorded schema is the ONLY schema
  *    authority: every read serves a version's files through its recorded
  *    schema explicitly (no parquet footer merging), so time travel below
  *    a widening append serves that version's narrower schema, and a
  *    version whose file list is EMPTY (delete-all — a legal SQL state)
  *    reads as a schema-correct empty DataFrame.
  *  - **One log format**: every version record and checkpoint meta row is
  *    compact JSON written by one codec (see "Version-record / checkpoint
  *    codec") and stamped with [[LogProtocol]]; a record or checkpoint
  *    without that stamp was written by an older log format and is
  *    refused with one named error ([[OlderLogFormatException]]:
  *    re-create the table) — no read path guesses at an older shape.
  *  - **DELETE without eager rewrite of everything**: `deleteWhere` rewrites
  *    ONLY the files that contain matching rows. Touched-file discovery is
  *    ONE distributed job over the snapshot's files
  *    (`_metadata.file_name` distinct — never a per-file driver loop,
  *    which at 10⁵–10⁶ files would serialize job-launch latency), pruned
  *    by the log's own per-file stats like every read.
  *  - **Bounded log discovery**: every [[CheckpointInterval]] commits the
  *    newest version number is checkpointed to `_last_checkpoint`
  *    (Delta's same-named hint file); `currentVersion` probes forward from
  *    the hint instead of listing the whole log dir. The hint is advisory
  *    only — torn, stale, or missing hints fall back to a full listing, so
  *    correctness never depends on it.
  *
  *  - **Column-level stats IN the log** (Delta's `stats`-on-add): every
  *    data-writing commit records per-file min/max/nullCount for the
  *    stats-eligible columns in its OWN version record (canonical longs —
  *    [[ColStats]]) and checkpoints persist the accumulated map. Every
  *    data-file scan goes through one [[TxLogFileIndex]] over the
  *    snapshot, which skips the files whose stats prove a pushed filter
  *    false with ZERO jobs — plain reads, time travel, the change feed,
  *    the DML probes and the stream batches alike. Log stats can never
  *    be stale relative to the version being read: they ride in the
  *    commit that adds their files.
  *  - **CHECK constraints** (Delta invariants): [[addConstraint]] /
  *    [[dropConstraint]] DDL rides in the log; every row-adding commit is
  *    validated in one distributed pass and refused atomically (named
  *    [[ConstraintViolationException]], nothing published) on violation.
  *
  * NOT implemented (documented, not hidden): multi-table
  * transactions. ([[vacuum]] covers orphan/superseded data-file cleanup
  * under a retention horizon.) The point is exercising the COMMIT
  * SEMANTICS the MERGE seam (`DimStore`) pins, end-to-end, with a DuckDB
  * oracle over the final states — not re-shipping Delta.
  *
  * Atomicity is pluggable via [[CommitPrimitive]]: the default
  * [[CommitPrimitive.HardLink]] stages content and hard-links it into
  * place (atomic with content on local/HDFS semantics), degrading
  * automatically to [[CommitPrimitive.CreateWrite]] (atomic existence,
  * narrow torn-content window) on filesystems without links. On
  * eventual-consistency object stores the real formats use a coordination
  * service (DynamoDB for S3 Delta) — same seam, swapped primitive.
  * [[snapshot]] raises a NAMED `not a valid version record` error for an
  * unreadable version rather than a bare parse failure; under the default
  * HardLink primitive that error is always corruption, while under the
  * degraded CreateWrite primitive an unreadable NEWEST version can also be
  * a transient torn-content race — the error is retry-able BY THE CALLER
  * there (snapshot itself does not retry: it cannot distinguish a racing
  * writer from real corruption, and a retry loop on corruption would hang).
  */
object TxLog {

  val LogDirName = "_graft_txlog"

  /** Checkpoint the version hint + full-file-list checkpoint every
    * this-many commits.
    */
  val CheckpointInterval = 10L

  private val CheckpointName = "_last_checkpoint"

  /** The log-format stamp [[publish]] writes into every version record
    * and [[writeCheckpointParquet]] into every checkpoint's meta row. A
    * record or checkpoint carrying no stamp, or a different one, was
    * written by an older log format: reads refuse it with
    * [[OlderLogFormatException]] instead of guessing at its shape.
    * Protocol 1 wrapped its fields in base64 (`schemaB64`, `statsB64`);
    * protocol 2 writes plain nested JSON.
    */
  val LogProtocol = 2

  final class OlderLogFormatException(path: String)
    extends IllegalStateException(s"TxLog: $path was written by an older " +
      "log format - re-create the table")

  /** Refuse `o` (a version record or checkpoint meta row of the table at
    * `path`) unless it carries exactly [[LogProtocol]].
    */
  private def requireProtocol(path: String, o: JsonNode): Unit =
    if (!Option(o.get("protocol")).exists(p => p.isInt && p.intValue == LogProtocol))
      throw new OlderLogFormatException(path)

  /** Exactly the names [[publish]] writes — editor droppings, temp files,
    * checkpoint files, and the checkpoint hint in the log dir are ignored,
    * never parsed as version records.
    */
  private val VersionRe = "^(\\d{20})\\.json$".r

  private val CheckpointParquetRe = "^(\\d{20})\\.checkpoint\\.parquet$".r

  /** The empty state before version 0. */
  private val EmptySnapshot = Snapshot(-1L, Nil, new StructType())

  final case class Snapshot(version: Long, files: Seq[String],
      schema: StructType,
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      stats: Map[String, FileStats] = Map.empty,
      // active deletion vectors: data file → DV sidecar file whose
      // (file, row_idx) rows are DELETED from it (the Delta DV shape) —
      // see [[deleteWhereDV]]; every read path applies them
      dvs: Map[String, String] = Map.empty,
      // table PARTITION COLUMNS (Delta's partitionColumns metadata) —
      // declared at [[init]], immutable for the table's lifetime; empty =
      // unpartitioned. Every data file of a partitioned table is
      // partition-ALIGNED (all rows share one partition tuple, recorded
      // as [[FileStats.parts]]), which is what makes metadata-only
      // partition ops ([[deletePartitions]], [[replaceWherePartitions]],
      // [[prunedFilesByPartition]]) sound.
      partitionCols: Seq[String] = Nil,
      // COLUMN MAPPING (the Delta column-mapping shape): logical column
      // name (what the recorded schema + every API shows) → PHYSICAL
      // name (what the parquet files store). Empty = identity — the
      // state of every table until its first [[renameColumn]] /
      // [[dropColumn]], where the map materializes for all columns; from
      // then on writes physicalize and reads logicalize at the two shared
      // IO seams. Keyed by logical name; values are unique.
      columnMap: Map[String, String] = Map.empty,
      // physical names of DROPPED columns, still present in data files —
      // reads project them out, and no future column (addColumn or a
      // widening append) may claim them: a re-added same-named column
      // gets a FRESH physical name, so old values can never leak into it
      physTombstones: Set[String] = Set.empty)

  /** Per-file column statistics recorded IN the commit log (the Delta
    * `stats`-on-add shape): values are CANONICAL LONGS — integral columns
    * as themselves (`typ = "l"`), DATE as epoch days (`"d"`),
    * TIMESTAMP_NTZ as epoch micros under the session timezone mapping
    * (`"t"`; GraftSession pins UTC, so the mapping is stable and
    * monotone). min/max ignore NULLs (Spark agg semantics); an
    * all-NULL/absent column has `min = max = None` and its file is never
    * pruned. Stats are advisory for CORRECTNESS (files without stats are
    * always kept) and transactionally consistent BY CONSTRUCTION: they
    * ride in the same version record as the add actions they describe,
    * so — unlike a sidecar index — they can never be stale relative to
    * the snapshot being read, at any time-travel version.
    *
    * STRING columns (`typ = "s"`) use `strMin`/`strMax` instead (the
    * Delta truncated-string-stats shape, [[MaxStringStatChars]] code
    * points): `strMin` is a PREFIX of the file's minimum — a prefix is
    * at-or-below its extension in UTF8 binary order, so it is a sound
    * lower bound; `strMax` is the exact maximum when it fits, otherwise
    * the truncated prefix with its last code point INCREMENTED (strictly
    * above every extension of the prefix — Delta's tie-breaker), or None
    * when even that overflows (max-code-point run). All comparisons are
    * UTF8String BINARY order = code-point order, the order Spark's own
    * min/max aggregate strings in — java.lang.String's UTF-16 order
    * disagrees on supplementary-plane characters and would make skips
    * unsound exactly there.
    */
  final case class ColStats(typ: String, nulls: Long,
      min: Option[Long], max: Option[Long],
      strMin: Option[String] = None, strMax: Option[String] = None) {

    /** These stats as pruning bounds: strings their truncated
      * `strMin`/`strMax`, every other type its canonical longs.
      */
    def bounds: StatsPruning.Bounds =
      if (typ == "s") (strMin.map(StatsPruning.BvStr), strMax.map(StatsPruning.BvStr))
      else (min.map(StatsPruning.BvLong), max.map(StatsPruning.BvLong))
  }

  /** `bytes` is the add-file's physical size recorded AT COMMIT TIME
    * (Delta's add-action `size` field): byte-budget admission control
    * ([[TxLog.versionAddBytes]]) and [[compact]]'s small-file selection
    * read it as pure log metadata — zero filesystem stats, correct on any
    * filesystem (a `java.io.File.length()` on a non-local FS returns 0
    * SILENTLY, which was the round-12 latent bug this field retires).
    * Every committer records it. A file with no FileStats entry at all —
    * a table with no stats-eligible column commits stat-less records —
    * has no recorded size, and size consumers pay one Hadoop-FS stat per
    * such file ([[fileBytes]]).
    */
  final case class FileStats(rows: Long, cols: Map[String, ColStats],
      bytes: Option[Long] = None,
      // the file's PARTITION VALUE tuple (Delta's add-action
      // partitionValues), aligned with [[Snapshot.partitionCols]]: each
      // entry is the canonical string rendering (`CAST(value AS STRING)`
      // under the engine's fixed UTC session) of the single partition
      // value every row in the file shares; None = the NULL partition.
      // Nil on unpartitioned tables. Rides in the version record with the
      // add action and in every checkpoint, exactly like the column
      // stats — losing it on vacuum would disarm partition ops.
      parts: Seq[Option[String]] = Nil)

  final class ConflictException(version: Long)
    extends java.util.ConcurrentModificationException(
      s"TxLog: version $version was committed by another writer - " +
        "re-read the table and retry the commit")

  /** A commit's rows violated a table CHECK constraint — nothing was
    * published; the table is unchanged (any already-staged data files are
    * invisible orphans, reaped by [[vacuum]]).
    */
  final class ConstraintViolationException(val name: String,
      val check: String, val violations: Long)
    extends IllegalArgumentException(
      s"TxLog: constraint '$name' CHECK ($check) is violated by " +
        s"$violations row(s) - nothing was committed")

  /** The atomic create-with-content seam under [[publish]]: create
    * `target` holding `bytes`, failing with
    * `FileAlreadyExistsException` if the target exists. The commit
    * protocol needs exactly this one primitive; everything above it
    * (optimistic concurrency, atomic visibility) is primitive-agnostic,
    * which is what makes an object-store coordination-service
    * implementation a drop-in later.
    */
  sealed trait CommitPrimitive {
    @throws[java.nio.file.FileAlreadyExistsException]
    def create(target: java.nio.file.Path, bytes: Array[Byte]): Unit
  }

  object CommitPrimitive {

    /** Stage to a temp file in the target dir, then `Files.createLink`
      * into place: the target appears atomically WITH its complete
      * content, and the link fails if the target exists. Atomic on
      * local/POSIX/HDFS semantics. Throws `UnsupportedOperationException`
      * on filesystems without hard links — [[publish]] degrades to
      * [[CreateWrite]] there.
      */
    case object HardLink extends CommitPrimitive {
      def create(target: java.nio.file.Path, bytes: Array[Byte]): Unit = {
        val tmp = java.nio.file.Files.createTempFile(target.getParent, ".v", ".tmp")
        try {
          java.nio.file.Files.write(tmp, bytes)
          java.nio.file.Files.createLink(target, tmp)
          ()
        } finally { java.nio.file.Files.deleteIfExists(tmp); () }
      }
    }

    /** Degraded fallback: atomic `Files.createFile` (fail-if-exists)
      * followed by the content write. Existence is still atomic — racing
      * writers are still serialized — but a reader can observe the file
      * between create and write (the torn-content window the scaladoc
      * documents; [[snapshot]] treats an unreadable newest version as
      * retry-able). NOT an atomic rename: POSIX rename() silently
      * REPLACES an existing target, which would clobber a concurrent
      * winner's commit.
      */
    case object CreateWrite extends CommitPrimitive {
      def create(target: java.nio.file.Path, bytes: Array[Byte]): Unit = {
        val p = java.nio.file.Files.createFile(target) // atomic fail-if-exists
        java.nio.file.Files.write(p, bytes)
        ()
      }
    }
  }

  /** Publish primitive for the current dynamic scope (tests swap it via
    * [[usingPrimitive]]; production keeps the default). A DynamicVariable
    * (InheritableThreadLocal-backed), NOT a process-wide var: one spec
    * exercising the degraded primitive must not silently degrade every
    * other table/thread in the JVM, and nested scopes restore correctly.
    * Threads constructed INSIDE a [[usingPrimitive]] block inherit the
    * scoped primitive; pre-existing threads keep their own.
    */
  private val primitive =
    new scala.util.DynamicVariable[CommitPrimitive](CommitPrimitive.HardLink)

  /** Run `body` with `p` as the publish primitive for the current thread
    * (and threads it constructs) — for specs that prove the ACID contract
    * holds under BOTH implementations. Test seam only, hence the
    * package-private scope.
    */
  private[graft] def usingPrimitive[T](p: CommitPrimitive)(body: => T): T =
    primitive.withValue(p)(body)

  /** Commit wall-clock source (epoch millis). Every [[publish]] stamps its
    * version record with `clock.value()` — the raw material of
    * timestamp-based time travel and the `history` timestamp column. A
    * DynamicVariable like [[primitive]], so specs inject a fixed sequence
    * and the gate oracles are deterministic; production keeps the system
    * clock. Stamping LOG METADATA does not violate the pipeline's
    * no-wall-clock determinism rule — that rule protects DATA outputs
    * (layer parquet must be byte-identical across re-runs); commit
    * timestamps are annotation, exactly like file mtimes.
    *
    * Skew contract (Delta's): timestamps are recorded RAW, per-writer
    * clock; the resolution path ([[clampedCommitTimestamps]]) restores
    * monotonicity by clamping a non-monotone stamp to predecessor + 1 ms,
    * so `TIMESTAMP AS OF` is always well-defined even across skewed
    * writers. [[history]] shows the raw stamps (the audit truth).
    */
  private val clock =
    new scala.util.DynamicVariable[() => Long](() => System.currentTimeMillis())

  /** Run `body` with `c` as the commit clock (test seam — deterministic
    * timestamp histories for specs and gates).
    */
  private[graft] def usingClock[T](c: () => Long)(body: => T): T =
    clock.withValue(c)(body)

  private def logDir(path: String) = new java.io.File(path, LogDirName)

  private def versionFile(path: String, v: Long) =
    new java.io.File(logDir(path), f"$v%020d.json")

  private def checkpointParquetVersionFile(path: String, v: Long) =
    new java.io.File(logDir(path), f"$v%020d.checkpoint.parquet")

  private def listLogVersions(path: String,
      name: scala.util.matching.Regex): Seq[Long] =
    Option(logDir(path).list()).getOrElse(Array.empty[String]).toSeq
      .collect { case name(v) => v.toLong }.sorted

  private def listVersionNumbers(path: String): Seq[Long] =
    listLogVersions(path, VersionRe)

  private def listCheckpointVersions(path: String): Seq[Long] =
    listLogVersions(path, CheckpointParquetRe)

  private def checkpointFile(path: String) =
    new java.io.File(logDir(path), CheckpointName)

  /** Advisory newest-version hint; any unreadable/garbage content → None
    * (the caller falls back to listing — the hint can speed discovery,
    * never change its result).
    */
  private def checkpointHint(path: String): Option[Long] =
    try {
      val f = checkpointFile(path)
      if (!f.exists()) None
      else {
        val v = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        if (v >= 0) Some(v) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Atomically overwrite the hint (tmp + ATOMIC_MOVE with replace — a
    * plain overwrite could be read torn; the hint may be STALE but must
    * never be garbage from a half-write).
    */
  private def writeCheckpointHint(path: String, v: Long): Unit = {
    val dir = logDir(path).toPath
    val tmp = java.nio.file.Files.createTempFile(dir, ".ckpt", ".tmp")
    try {
      java.nio.file.Files.write(tmp,
        v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, checkpointFile(path).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  /** Newest committed version, or None for a non-table. With a valid
    * checkpoint hint this probes forward from the hint (versions are dense
    * by construction — every commit is expectedVersion + 1), costing
    * O(commits since checkpoint) instead of a full log-dir listing; a
    * missing/stale/torn hint falls back to listing.
    */
  def currentVersion(path: String): Option[Long] =
    checkpointHint(path) match {
      case Some(h) if versionFile(path, h).exists() =>
        var v = h
        while (versionFile(path, v + 1).exists()) v += 1
        Some(v)
      case _ =>
        val vs = listVersionNumbers(path)
        if (vs.isEmpty) None else Some(vs.max)
    }

  // ---------------------------------------------------------------------
  // Version-record / checkpoint codec.
  //
  // Compact one-line JSON through ONE Jackson mapper ([[Json]]) and its
  // tree model (no reflective binding). Map keys are written sorted, so a
  // record is a deterministic function of its content; JSON null, "" and
  // [] keep absent, empty and NULL values apart.
  //
  //   {"version":N,"protocol":P,"tsMillis":T,"schema":{StructType JSON},
  //    "info":{"op":..,"params":{..}},<optional keys>,"add":[..],"remove":[..]}
  //
  // Optional keys — absent means "no change, inherit":
  //   txn          {"appId":..,"batchId":..} — the idempotent-writer
  //                watermark (Delta's txn action)
  //   constraints  {name: sql} — full post-commit map ({} = all dropped)
  //   stats        {file: file stats} — the commit's ADDED files only
  //   dvs          {file: dvFile | null} — deletion-vector changes; null
  //                clears the file's vector (rows resurrect)
  //   partCols     [..] — in every record of a partitioned table
  //   removeParts  {file: [value | null]} — the REMOVED files' partition
  //                tuples (Delta RemoveFile parity), so a partition-
  //                filtered stream classifies a remove from the record
  //                alone when v-1 is below the vacuum horizon
  //   colMap       {logical: physical} — full post-commit mapping
  //   colDrop      [..] — full post-commit dropped-column tombstones
  //
  //   file stats   {"rows":R,"bytes":B,"cols":{c:{"typ":..,"nulls":..,
  //                "min":..,"max":..,"strMin":..,"strMax":..}},
  //                "parts":[value | null]} — an absent bound is None
  //
  // `info` (the raw material of [[history]]) and `removeParts` describe
  // their one version; the rest is table state, whose accumulated form the
  // parquet checkpoint carries so vacuum loses none of it (see the parquet
  // section). A record parses STRICTLY: anything but one complete JSON
  // object is "not a valid version record", so every truncation fails
  // loudly.
  // ---------------------------------------------------------------------

  private[graft] final case class VersionRecord(
      add: Seq[String], remove: Seq[String], schema: StructType,
      txn: Option[(String, Long)],
      constraints: Option[Map[String, String]],
      stats: Map[String, FileStats],
      info: Option[(String, Map[String, String])],
      dvs: Map[String, Option[String]],
      // commit wall-clock (epoch millis, raw per-writer stamp)
      tsMillis: Long,
      partCols: Option[Seq[String]],
      removeParts: Map[String, Seq[Option[String]]],
      colMap: Option[Map[String, String]],
      colDrop: Option[Set[String]])

  private val Json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  // --- encode ---------------------------------------------------------------

  private def mapNode[T](m: Map[String, T])(f: T => JsonNode): ObjectNode = {
    val o = Json.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.set[JsonNode](k, f(v)) }
    o
  }

  private def strMapNode(m: Map[String, String]): ObjectNode =
    mapNode(m)(TextNode.valueOf)

  private def arrayNode[T](xs: Seq[T])(f: T => JsonNode): JsonNode = {
    val a = Json.createArrayNode()
    xs.foreach(x => a.add(f(x)))
    a
  }

  private def strsNode(xs: Seq[String]): JsonNode = arrayNode(xs)(TextNode.valueOf)

  private def optStrNode(v: Option[String]): JsonNode =
    v.fold[JsonNode](NullNode.getInstance)(TextNode.valueOf)

  private def partsNode(parts: Seq[Option[String]]): JsonNode =
    arrayNode(parts)(optStrNode)

  private def colsNode(cols: Map[String, ColStats]): ObjectNode =
    mapNode(cols) { cs =>
      val o = Json.createObjectNode().put("typ", cs.typ).put("nulls", cs.nulls)
      cs.min.foreach(x => o.put("min", x))
      cs.max.foreach(x => o.put("max", x))
      cs.strMin.foreach(x => o.put("strMin", x))
      cs.strMax.foreach(x => o.put("strMax", x))
      o
    }

  private def fileStatsNode(fs: FileStats): JsonNode = {
    val o = Json.createObjectNode().put("rows", fs.rows)
    fs.bytes.foreach(b => o.put("bytes", b))
    o.set[JsonNode]("cols", colsNode(fs.cols))
    if (fs.parts.nonEmpty) o.set[JsonNode]("parts", partsNode(fs.parts))
    o
  }

  private def schemaNode(s: StructType): JsonNode = Json.readTree(s.json)

  private[graft] def encodeRecord(v: Long, r: VersionRecord): Array[Byte] = {
    val o = Json.createObjectNode().put("version", v)
      .put("protocol", LogProtocol).put("tsMillis", r.tsMillis)
    o.set[JsonNode]("schema", schemaNode(r.schema))
    r.info.foreach { case (op, params) =>
      o.set[JsonNode]("info", Json.createObjectNode().put("op", op)
        .set[JsonNode]("params", strMapNode(params)))
    }
    r.txn.foreach { case (appId, batchId) =>
      o.set[JsonNode]("txn",
        Json.createObjectNode().put("appId", appId).put("batchId", batchId))
    }
    r.constraints.foreach(c => o.set[JsonNode]("constraints", strMapNode(c)))
    if (r.stats.nonEmpty) o.set[JsonNode]("stats", mapNode(r.stats)(fileStatsNode))
    if (r.dvs.nonEmpty) o.set[JsonNode]("dvs", mapNode(r.dvs)(optStrNode))
    r.partCols.foreach(c => o.set[JsonNode]("partCols", strsNode(c)))
    if (r.removeParts.nonEmpty)
      o.set[JsonNode]("removeParts", mapNode(r.removeParts)(partsNode))
    r.colMap.foreach(m => o.set[JsonNode]("colMap", strMapNode(m)))
    r.colDrop.foreach(d => o.set[JsonNode]("colDrop", strsNode(d.toSeq.sorted)))
    o.set[JsonNode]("add", strsNode(r.add))
    o.set[JsonNode]("remove", strsNode(r.remove))
    Json.writeValueAsBytes(o)
  }

  // --- decode: every helper throws on a missing or mistyped value ----------

  private def opt(o: JsonNode, key: String): Option[JsonNode] =
    Option(o.get(key)).filterNot(_.isNull)

  private def str(n: JsonNode): String = {
    require(n != null && n.isTextual, s"TxLog: expected a string, got $n")
    n.textValue
  }

  private def long(n: JsonNode): Long = {
    require(n != null && n.isIntegralNumber && n.canConvertToLong,
      s"TxLog: expected a long, got $n")
    n.longValue
  }

  /** An array element or map value: JSON null is None. */
  private def optStr(n: JsonNode): Option[String] =
    if (n.isNull) None else Some(str(n))

  private def elems(n: JsonNode): Seq[JsonNode] = {
    require(n != null && n.isArray, s"TxLog: expected an array, got $n")
    (0 until n.size).map(n.get)
  }

  private def strs(n: JsonNode): Seq[String] = elems(n).map(str)

  private def mapOf[T](n: JsonNode)(f: JsonNode => T): Map[String, T] = {
    require(n != null && n.isObject, s"TxLog: expected an object, got $n")
    val b = Map.newBuilder[String, T]
    n.properties().forEach(e => b += e.getKey -> f(e.getValue))
    b.result()
  }

  private def strMapOf(n: JsonNode): Map[String, String] = mapOf(n)(str)

  private def partsOf(n: JsonNode): Seq[Option[String]] = elems(n).map(optStr)

  private def colsOf(n: JsonNode): Map[String, ColStats] = mapOf(n) { c =>
    ColStats(str(c.get("typ")), long(c.get("nulls")), opt(c, "min").map(long),
      opt(c, "max").map(long), opt(c, "strMin").map(str),
      opt(c, "strMax").map(str))
  }

  private def fileStatsOf(n: JsonNode): FileStats =
    FileStats(long(n.get("rows")), colsOf(n.get("cols")),
      opt(n, "bytes").map(long),
      opt(n, "parts").fold(Seq.empty[Option[String]])(partsOf))

  private def schemaOf(n: JsonNode): StructType = {
    require(n != null && n.isObject, s"TxLog: expected a schema, got $n")
    DataType.fromJson(Json.writeValueAsString(n)).asInstanceOf[StructType]
  }

  /** The record [[encodeRecord]] wrote, or an exception: the named
    * [[OlderLogFormatException]] for a complete record of another log
    * format, anything else for a record that is not one.
    */
  private[graft] def decodeRecord(path: String, bytes: Array[Byte]): VersionRecord = {
    val o = Json.readTree(bytes)
    // both action arrays first: a record cut short is torn, not older
    val add = strs(o.get("add"))
    val remove = strs(o.get("remove"))
    requireProtocol(path, o)
    VersionRecord(add, remove, schemaOf(o.get("schema")),
      opt(o, "txn").map(t => (str(t.get("appId")), long(t.get("batchId")))),
      opt(o, "constraints").map(strMapOf),
      opt(o, "stats").fold(Map.empty[String, FileStats])(mapOf(_)(fileStatsOf)),
      opt(o, "info").map(i => (str(i.get("op")), strMapOf(i.get("params")))),
      opt(o, "dvs").fold(Map.empty[String, Option[String]])(mapOf(_)(optStr)),
      long(o.get("tsMillis")),
      opt(o, "partCols").map(strs),
      opt(o, "removeParts")
        .fold(Map.empty[String, Seq[Option[String]]])(mapOf(_)(partsOf)),
      opt(o, "colMap").map(strMapOf),
      opt(o, "colDrop").map(strs(_).toSet))
  }

  /** The partition tuples of `removed` from the pre-commit stats map —
    * what a remove-bearing commit records alongside its remove actions
    * (unpartitioned tables' files carry no tuple and are simply absent).
    */
  private def removePartsOf(stats: Map[String, FileStats],
      removed: Seq[String]): Map[String, Seq[Option[String]]] =
    removed.flatMap(f => stats.get(f).filter(_.parts.nonEmpty)
      .map(fs => f -> fs.parts)).toMap

  /** True when re-declaring a `from`-typed field as `to` is same-or-wider
    * (identical type, integral up-rank, or float→double). Everything else
    * — narrowing, or a cross-family change like string→int — is rejected
    * by [[mergeSchemas]] before it can be recorded as the table schema.
    */
  private def isSameOrWidened(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(d: DataType): Int = d match {
      case ByteType => 0; case ShortType => 1
      case IntegerType => 2; case LongType => 3
      case _ => -1
    }
    (from, to) match {
      case _ if from == to => true
      case (FloatType, DoubleType) => true
      // same-scale precision widening — the one decimal merge Spark's own
      // parquet schema merging accepts (max precision at equal scale)
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d1.precision <= d2.precision
      case _ => rank(from) >= 0 && rank(to) >= 0 && rank(from) <= rank(to)
    }
  }

  /** The cumulative table schema after committing `written` on top of
    * `base`: base fields (updated in place if the written data re-declares
    * them) plus written-only fields appended — the widen-only evolution
    * the whole-file commit model supports. Stored in the version record:
    * it is the schema every read of the version serves. A re-declare that
    * NARROWS (or cross-family changes) a base field is rejected with a
    * named error — recording it would make reads serve the narrowed type
    * over files that still carry the wide one.
    */
  private def mergeSchemas(base: StructType,
      written: StructType): StructType = {
    val baseNames = base.fieldNames.toSet
    base.fields.foreach { f =>
      written.fields.find(_.name == f.name).foreach { w =>
        require(isSameOrWidened(f.dataType, w.dataType),
          s"TxLog: commit re-declares column '${f.name}' as " +
            s"${w.dataType.simpleString}, narrowing/changing the table's " +
            s"${f.dataType.simpleString} - only same-or-widened " +
            "re-declares are recordable as the table schema")
      }
    }
    StructType(
      base.fields.map(f => written.fields.find(_.name == f.name).getOrElse(f)) ++
        written.fields.filterNot(f => baseNames.contains(f.name)))
  }

  private def parseRecord(path: String, v: Long): VersionRecord = {
    val f = versionFile(path, v)
    require(f.exists(), s"TxLog: version $v does not exist at $path " +
      s"(newest is ${currentVersion(path).getOrElse(-1L)}; versions below " +
      "the vacuum retention horizon are gone)")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // Under HardLink an unreadable record is corruption; under the
    // degraded CreateWrite primitive a reader racing the writer can also
    // observe the NEWEST version cut short — retry-able by the caller.
    // Either way it must fail loudly: a torn record read as far as it
    // goes would silently resurrect the commit's removed files.
    try decodeRecord(path, bytes)
    catch {
      case e: OlderLogFormatException => throw e
      case scala.util.control.NonFatal(_) => throw new IllegalStateException(
        s"TxLog: version file ${f.getPath} is not a valid version record " +
          "(truncated or corrupt; under a degraded CreateWrite publish an " +
          "unreadable NEWEST version can be a transient race - retry)")
    }
  }

  // --- parquet checkpoints ---------------------------------------------------
  // The scale-safe checkpoint kind (round-14 verdict item 3; Delta's own
  // checkpoints are parquet for the same reason): ONE ROW PER FILE plus a
  // meta row, so (a) the driver's cold resolve STREAMS rows through
  // parquet-mr instead of materializing and regex-scanning one JSON blob
  // holding the whole file list (O(row) working memory vs O(table
  // metadata) garbage), and (b) the file list is readable DISTRIBUTIVELY
  // (`spark.read.parquet` / [[checkpointFilesDf]]) — a 10^6-file
  // table's planning inputs can be consumed as a DataFrame without ever
  // collecting them on the driver (stats stay JSON strings per row,
  // exactly Delta's stats-as-JSON-string checkpoint shape, readable with
  // Spark's own `from_json`).
  //
  //   kind='meta' row: `meta` is a JSON object {"version","protocol",
  //     "schema","txns":{appId: batchId},"constraints","partCols",
  //     "colMap","colDrop"} (record shapes; empty state omitted).
  //   kind='file' rows: file name, `rows`/`bytes`, `cols` (the record's
  //     cols object as a JSON string) and `parts` (the partition tuple as
  //     a JSON array string) — rows NULL = the file has no stats entry —
  //     and the active DV sidecar.
  //
  // Written driver-side via parquet-mr's example Group API over
  // LocalOutputFile (no Hadoop FS or Configuration, no .crc litter),
  // staged + ATOMIC_MOVE like every checkpoint; any read failure
  // returns None (advisory checkpoints degrade to a longer replay, the
  // load-bearing vacuum kind surfaces as the named missing-version error
  // — proven by the corruption property fuzz). A READABLE checkpoint whose meta row lacks
  // the [[LogProtocol]] stamp is not corruption but an older log format:
  // it is refused with [[OlderLogFormatException]], never skipped.

  // Every parquet-mr call the log makes (checkpoint write and read, the
  // footer stats of a commit's staged files, DV sidecar footers and
  // loads) goes through parquet-mr's local-file API with a
  // PlainParquetConfiguration: no Hadoop FileSystem and no Hadoop
  // Configuration. A fresh Configuration re-parses core-default.xml and
  // searches the whole classpath for core-site.xml, ~11 ms a call on a
  // C1 JVM over Spark's jars — more than reading a small checkpoint.

  /** A parquet-mr Group reader over the local parquet file `f`. */
  private[graft] def localParquetReader(f: java.io.File)
      : org.apache.parquet.hadoop.ParquetReader[org.apache.parquet.example.data.Group] =
    new org.apache.parquet.hadoop.ParquetReader.Builder[org.apache.parquet.example.data.Group](
        new org.apache.parquet.io.LocalInputFile(f.toPath),
        new org.apache.parquet.conf.PlainParquetConfiguration()) {
      override protected def getReadSupport() =
        new org.apache.parquet.hadoop.example.GroupReadSupport()
    }.build()

  /** The footer of the local parquet file `f`. */
  private[graft] def localParquetFooter(f: java.io.File)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f.toPath),
      org.apache.parquet.ParquetReadOptions.builder(
        new org.apache.parquet.conf.PlainParquetConfiguration()).build())
    try r.getFooter finally r.close()
  }

  private val CheckpointMessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_checkpoint {
        |  required binary kind (UTF8);
        |  optional binary file (UTF8);
        |  optional int64 rows;
        |  optional int64 bytes;
        |  optional binary cols (UTF8);
        |  optional binary parts (UTF8);
        |  optional binary dv (UTF8);
        |  optional binary meta (UTF8);
        |}""".stripMargin)

  /** [[CheckpointMessageType]] as Spark types it: [[checkpointFilesDf]]
    * reads with it instead of inferring it from the footer (a job). */
  private[graft] val CheckpointSparkSchema = new StructType()
    .add("kind", "string", nullable = false).add("file", "string")
    .add("rows", "long").add("bytes", "long").add("cols", "string")
    .add("parts", "string").add("dv", "string").add("meta", "string")

  /** Atomically (re)write the checkpoint of `snap` — deterministic
    * content for a given version, so REPLACE is idempotent. Carries the
    * snapshot's FULL state: files, schema, txn watermarks, constraints,
    * accumulated per-file stats, DVs, partition columns, column mapping —
    * anything omitted here would be silently LOST when vacuum drops the
    * action history below the checkpoint (for constraints that loss would
    * disarm enforcement, a correctness hazard, not a degradation).
    */
  private[graft] def writeCheckpointParquet(path: String, snap: Snapshot): Unit = {
    import snap._
    val dir = logDir(path).toPath
    val tmp = java.nio.file.Files.createTempFile(dir, ".ckptpq", ".tmp")
    java.nio.file.Files.delete(tmp) // writer must create it itself
    try {
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.parquet.io.LocalOutputFile(tmp))
        .withConf(new org.apache.parquet.conf.PlainParquetConfiguration())
        .withType(CheckpointMessageType)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try {
        val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
          CheckpointMessageType)
        val meta = Json.createObjectNode().put("version", version)
          .put("protocol", LogProtocol)
        meta.set[JsonNode]("schema", schemaNode(schema))
        if (txns.nonEmpty)
          meta.set[JsonNode]("txns", mapNode(txns)(b => Json.getNodeFactory.numberNode(b)))
        if (constraints.nonEmpty)
          meta.set[JsonNode]("constraints", strMapNode(constraints))
        if (partitionCols.nonEmpty)
          meta.set[JsonNode]("partCols", strsNode(partitionCols))
        if (columnMap.nonEmpty) meta.set[JsonNode]("colMap", strMapNode(columnMap))
        if (physTombstones.nonEmpty)
          meta.set[JsonNode]("colDrop", strsNode(physTombstones.toSeq.sorted))
        w.write(gf.newGroup().append("kind", "meta")
          .append("meta", Json.writeValueAsString(meta)))
        files.foreach { f =>
          val g = gf.newGroup().append("kind", "file").append("file", f)
          stats.get(f).foreach { fs =>
            g.append("rows", fs.rows)
            fs.bytes.foreach(b => g.append("bytes", b))
            g.append("cols", Json.writeValueAsString(colsNode(fs.cols)))
            if (fs.parts.nonEmpty)
              g.append("parts", Json.writeValueAsString(partsNode(fs.parts)))
          }
          dvs.get(f).foreach(dv => g.append("dv", dv))
          w.write(g)
        }
      } finally w.close()
      java.nio.file.Files.move(tmp,
        checkpointParquetVersionFile(path, version).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  /** Checkpoint `v` as the snapshot it records, or None when missing or
    * unreadable (the caller replays a longer tail — commit-time
    * checkpoints never change the answer; the load-bearing vacuum
    * checkpoint is only consulted when the history below it is gone, and
    * its absence surfaces as [[parseRecord]]'s named missing-version
    * error). A readable checkpoint without the [[LogProtocol]] stamp
    * raises [[OlderLogFormatException]].
    */
  private[graft] def readCheckpointParquet(path: String, v: Long)
      : Option[Snapshot] =
    try {
      val f = checkpointParquetVersionFile(path, v)
      if (!f.exists()) None
      else {
        val reader = localParquetReader(f)
        try {
          val files = Seq.newBuilder[String]
          var stats = Map.empty[String, FileStats]
          var dvs = Map.empty[String, String]
          var meta: Option[String] = None
          var g = reader.read()
          while (g != null) {
            def has(field: String): Boolean =
              g.getFieldRepetitionCount(field) > 0
            def text(field: String): String = g.getString(field, 0)
            if (text("kind") == "meta") meta = Some(text("meta"))
            else {
              val name = text("file")
              files += name
              if (has("rows")) {
                stats += name -> FileStats(g.getLong("rows", 0),
                  if (has("cols")) colsOf(Json.readTree(text("cols"))) else Map.empty,
                  if (has("bytes")) Some(g.getLong("bytes", 0)) else None,
                  if (has("parts")) partsOf(Json.readTree(text("parts"))) else Nil)
              }
              if (has("dv")) dvs += name -> text("dv")
            }
            g = reader.read()
          }
          meta.map { json =>
            val m = Json.readTree(json)
            requireProtocol(path, m)
            // a stamped meta row without its schema is corrupt: the
            // exception lands in the unreadable (None) case
            Snapshot(v, files.result(), schemaOf(m.get("schema")),
              opt(m, "txns").fold(Map.empty[String, Long])(mapOf(_)(long)),
              opt(m, "constraints").fold(Map.empty[String, String])(strMapOf),
              stats, dvs, opt(m, "partCols").fold(Seq.empty[String])(strs),
              opt(m, "colMap").fold(Map.empty[String, String])(strMapOf),
              opt(m, "colDrop").fold(Set.empty[String])(strs(_).toSet))
          }
        } finally reader.close()
      }
    } catch {
      case e: OlderLogFormatException => throw e
      case scala.util.control.NonFatal(_) => None
    }

  /** Checkpoint `v`'s FILE ROWS as a DataFrame — the distributive
    * consumption path for very large tables: (file, rows, bytes, cols,
    * parts, dv) without collecting anything on the driver. Requires a
    * parquet-kind checkpoint at exactly `v` (the named error points at
    * the available versions).
    */
  def checkpointFilesDf(spark: SparkSession, path: String,
      v: Long): DataFrame = {
    val f = checkpointParquetVersionFile(path, v)
    require(f.isFile,
      s"TxLog: no parquet checkpoint at version $v of $path (have " +
        s"checkpoints at: ${listCheckpointVersions(path).mkString(", ")})")
    spark.read.schema(CheckpointSparkSchema).parquet(f.getPath)
      .filter(col("kind") === "file")
      .select("file", "rows", "bytes", "cols", "parts", "dv")
  }

  /** Resolve version `v`'s file list + schema: newest readable checkpoint
    * ≤ `v` as the base (skipped entirely when `useCheckpoints` is false —
    * the spec's checkpoint+tail ≡ full-replay proof), then replay the
    * action tail. O(commits since checkpoint) record reads.
    */
  private[graft] def resolve(path: String, v: Long,
      useCheckpoints: Boolean = true): Snapshot = {
    val base: Snapshot =
      (if (!useCheckpoints) None
      else listCheckpointVersions(path).filter(_ <= v).reverse
        .iterator.flatMap(readCheckpointParquet(path, _)).nextOption())
        .getOrElse(EmptySnapshot)
    (base.version + 1 to v).foldLeft(base)((s, w) =>
      applyRecord(s, w, parseRecord(path, w)))
  }

  /** The snapshot after committing record `rec` as version `v` on top of
    * `s` — the one replay step [[resolve]] and the change feed share.
    * Every key the record omits is inherited from `s`.
    */
  private def applyRecord(s: Snapshot, v: Long, rec: VersionRecord): Snapshot = {
    val rm = rec.remove.toSet
    var dvs = s.dvs.filterNot { case (f, _) => rm.contains(f) }
    rec.dvs.foreach {
      case (f, Some(dv)) => dvs = dvs + (f -> dv)
      case (f, None)     => dvs = dvs - f
    }
    Snapshot(v, s.files.filterNot(rm.contains) ++ rec.add,
      rec.schema, s.txns ++ rec.txn,
      rec.constraints.getOrElse(s.constraints),
      s.stats.filterNot { case (f, _) => rm.contains(f) } ++ rec.stats,
      dvs, rec.partCols.getOrElse(s.partitionCols),
      rec.colMap.getOrElse(s.columnMap),
      rec.colDrop.getOrElse(s.physTombstones))
  }

  def snapshot(path: String, asOf: Option[Long] = None): Snapshot = {
    val v = asOf.orElse(currentVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    resolve(path, v)
  }

  /** Read a snapshot as a DataFrame (file names resolve under `path`),
    * with the version's RECORDED schema EXPLICITLY — the log is the
    * schema authority, exactly as the registered `graft-txlog` batch
    * format serves it: no per-read parquet footer merging or schema
    * inference (round-17, guide §6 — at scale `mergeSchema` re-reads
    * every footer on every read; profiled at ~16% of the txlog gates'
    * driver wall in `DataSource.resolveRelation`). The explicit schema
    * gives the same rows by construction: widening appends' older files
    * null-fill the missing columns, and a widened re-declare type-widens
    * (which footer MERGING refused outright — the same round-12 gotcha
    * the writer-internal probe reads already work around). A version
    * whose APPENDS carried new columns serves the UNION schema (the
    * `q_s14_schema_evolution` contract).
    *
    * A version with NO files (delete-all — a legal SQL state) reads as an
    * EMPTY DataFrame with the schema the log recorded at that commit.
    */
  def read(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(path, asOf)
    if (snap.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
    else alignToRecordedSchema(
      readFilesWithDvs(spark, path, snap.files, snap), snap)
  }

  /** Null-fill columns the RECORDED schema declares but no data file
    * carries yet — the read half of metadata-only [[addColumn]] (Delta's
    * ALTER TABLE ADD COLUMN): until a write materializes the column,
    * every row serves a typed NULL. A no-op (same frame back) on tables
    * whose files cover the schema, i.e. everything except
    * post-addColumn-pre-write states — the recorded schema is always a
    * superset of the footer union by the widen-only commit rules, so
    * this can only APPEND columns, never change existing ones.
    */
  private def alignToRecordedSchema(df: DataFrame, snap: Snapshot): DataFrame = {
    val present = df.columns.toSet
    snap.schema.fields.filterNot(f => present.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Metadata-only ADD COLUMN (Delta's `ALTER TABLE ADD COLUMN` — the
    * ONE schema change that needs no data rewrite): record the widened
    * schema in a new version; existing rows serve a typed NULL for the
    * column on every read path until writes materialize it (writers may
    * keep omitting it — narrower-schema appends stay legal and
    * constraint checks align first, as always). The CHANGE FEED carries
    * the column only from the first version whose files physically hold
    * it (CDF rows are read from data files — Delta's CDF has the same
    * shape); keyed consumers' union alignment null-fills older rows once
    * it appears. Nullable by construction: a non-null column over
    * existing rows would be instantly violated.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: DataType, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val sch = base.schema
    require(!sch.fieldNames.contains(name),
      s"TxLog.addColumn: column '$name' already exists on $path - " +
        "re-declaring a column's type belongs to a widening data commit")
    val widened = StructType(sch.fields :+
      org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
    // under an ACTIVE mapping the new logical column needs a physical
    // name no data file already carries — in particular never a
    // tombstoned one, or the re-added column would read back the DROPPED
    // column's old values (the resurrect leak column mapping exists to
    // prevent)
    val (mapAction, newMap) =
      if (base.columnMap.isEmpty) (None, base.columnMap)
      else {
        val phys = freshPhysicalName(name,
          base.columnMap.values.toSet ++ base.physTombstones)
        val m = base.columnMap + (name -> phys)
        (Some(m), m)
      }
    publish(path, base, base.copy(version = expectedVersion + 1,
        schema = widened, columnMap = newMap), add = Nil, remove = Nil,
      info = ("ADD_COLUMN",
        Map("name" -> name, "type" -> dataType.simpleString)),
      colMap = mapAction, alerts = alerts)
  }

  /** The mapping with IDENTITY entries for every schema field when it has
    * not materialized yet — the first rename/drop activates column
    * mapping for the whole table (Delta's columnMapping mode switch has
    * the same one-way shape).
    */
  private def materializedMap(base: Snapshot,
      sch: StructType): Map[String, String] =
    if (base.columnMap.nonEmpty) base.columnMap
    else sch.fieldNames.map(n => n -> n).toMap

  /** Refuse a rename/drop of a column a CHECK constraint mentions — the
    * recorded constraint TEXT would silently stop (or wrongly keep)
    * gating writes. Conservative word-boundary match on the SQL text
    * (false positives refuse loudly with the fix in the message; false
    * negatives are impossible for plain identifiers). Backtick is a
    * BOUNDARY, not an identifier character: a constraint that
    * backtick-quotes the column (`` `cents` >= 0 ``) must still match —
    * with ` in the negated classes it would silently slip through,
    * leaving a dangling constraint that fails every later row-adding
    * commit (the round-14 ADVICE finding).
    */
  private def refuseConstraintReference(base: Snapshot, name: String,
      op: String): Unit = {
    val re = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])").r
    base.constraints.foreach { case (n, check) =>
      require(re.findFirstIn(check).isEmpty,
        s"TxLog.$op: column '$name' is referenced by CHECK constraint " +
          s"'$n' ($check) - drop the constraint first and re-add it " +
          "against the new schema")
    }
  }

  /** METADATA-ONLY column RENAME (the Delta column-mapping shape): the
    * logical name changes in the recorded schema while every data file
    * keeps its PHYSICAL column untouched — zero rewrite, any table size.
    * The first rename materializes the logical→physical map for all
    * columns; reads logicalize (physical→logical) and writes physicalize
    * at the two shared IO seams, so every read path (plain, pruned,
    * partition-pruned, DV'd, CDF) and every committer keeps working.
    * Time travel below the rename serves the OLD name (mapping state is
    * versioned like everything else); RESTORE rolls the mapping back
    * with the data. Refused: partition columns (immutable — their
    * physical identity is baked into per-file partition tuples),
    * constraint-referenced columns, and clashes with existing names.
    */
  def renameColumn(path: String, oldName: String, newName: String,
      expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val sch = base.schema
    require(sch.fieldNames.contains(oldName),
      s"TxLog.renameColumn: no column '$oldName' on $path (have: " +
        s"${sch.fieldNames.mkString(", ")})")
    require(!sch.fieldNames.contains(newName),
      s"TxLog.renameColumn: column '$newName' already exists on $path")
    require(!base.partitionCols.contains(oldName),
      s"TxLog.renameColumn: '$oldName' is a partition column - partition " +
        "columns are immutable for the table's lifetime (clone into a " +
        "new layout instead)")
    refuseConstraintReference(base, oldName, "renameColumn")
    val m0 = materializedMap(base, sch)
    val newMap = m0 - oldName + (newName -> m0(oldName))
    val renamed = StructType(sch.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    publish(path, base, base.copy(version = expectedVersion + 1,
        schema = renamed, columnMap = newMap), add = Nil, remove = Nil,
      info = ("RENAME_COLUMN", Map("from" -> oldName, "to" -> newName)),
      colMap = Some(newMap), alerts = alerts)
  }

  /** METADATA-ONLY column DROP: the field leaves the recorded schema and
    * its physical name joins the TOMBSTONE set — data files keep the
    * column (reads project it out), and no future column may claim the
    * physical name, so a later addColumn of the SAME name serves NULL
    * for old rows instead of resurrecting dropped values (the leak the
    * tombstones exist to prevent; spec-pinned). Same refusals as rename,
    * plus the last column.
    */
  def dropColumn(path: String, name: String, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val sch = base.schema
    require(sch.fieldNames.contains(name),
      s"TxLog.dropColumn: no column '$name' on $path (have: " +
        s"${sch.fieldNames.mkString(", ")})")
    require(sch.fields.length > 1,
      s"TxLog.dropColumn: '$name' is the only column of $path")
    require(!base.partitionCols.contains(name),
      s"TxLog.dropColumn: '$name' is a partition column - partition " +
        "columns are immutable for the table's lifetime")
    refuseConstraintReference(base, name, "dropColumn")
    val m0 = materializedMap(base, sch)
    val newMap = m0 - name
    val tombs = base.physTombstones + m0(name)
    val narrowed = StructType(sch.fields.filterNot(_.name == name))
    publish(path, base, base.copy(version = expectedVersion + 1,
        schema = narrowed, columnMap = newMap, physTombstones = tombs),
      add = Nil, remove = Nil, info = ("DROP_COLUMN", Map("name" -> name)),
      colMap = Some(newMap), colDrop = Some(tombs), alerts = alerts)
  }

  // --- deletion-vector read machinery --------------------------------------

  private val DvFileCol = "__graft_dv_file"
  private val DvRiCol = "__graft_dv_ri"
  private[graft] val MetaFileCol = "__graft_file"
  private[graft] val MetaRiCol = "__graft_ri"

  /** The columns of every DV file ([[writeDvFile]]). */
  private[graft] val DvFileSchema = new StructType().add("file", "string").add("row_idx", "long")

  /** The (file, row_idx) DELETED-row set of `active` (data file → DV
    * file), as a DataFrame — each DV parquet is filtered to ONLY the data
    * files whose CURRENT mapping points at it, so superseded entries in a
    * shared DV file never apply. Read with [[DvFileSchema]], not inferred:
    * an inference is one job per DV file.
    */
  private def dvRowsDf(spark: SparkSession, path: String,
      active: Map[String, String]): DataFrame =
    active.groupBy(_._2).map { case (dvf, entries) =>
      spark.read.schema(DvFileSchema).parquet(s"$path/$dvf")
        .filter(col("file").isInCollection(entries.keys.toSeq))
    }.reduce(_.unionAll(_))
      .select(col("file").as(DvFileCol), col("row_idx").as(DvRiCol))

  /** `files` of snapshot `at`, scanned through a [[TxLogFileIndex]] (the
    * log's file list, sizes and stats — no directory listing) with `at`'s
    * [[physicalReadSchema]] — never a footer merge, which refuses widened
    * columns.
    */
  private def scanFiles(spark: SparkSession, path: String, files: Seq[String],
      at: Snapshot): DataFrame =
    spark.baseRelationToDataFrame(TxLogFileIndex.relation(spark, path,
      at.version, files, at.stats, physicalReadSchema(at)))

  /** Load `files` of snapshot `at` with (file_name, row_index) metadata
    * columns attached — the read-side anchor deletion vectors key on
    * (parquet hidden `_metadata`, per-file physical row position, stable
    * under pushed filters) — served under `mapping`'s column names.
    */
  private def readFilesMeta(spark: SparkSession, path: String,
      files: Seq[String], at: Snapshot, mapping: Snapshot): DataFrame =
    logicalizeRead(
      scanFiles(spark, path, files, at)
        .withColumn(MetaFileCol, col("_metadata.file_name"))
        .withColumn(MetaRiCol, col("_metadata.row_index")),
      mapping.columnMap, mapping.physTombstones)

  /** Active-DV row-count ceiling for the broadcast-anti-join read path.
    * At or below it, DVs apply as a broadcast LeftAnti on (file_name,
    * row_index) — the original, oracle-twinned plan, ideal while the
    * deleted set is small. ABOVE it, reads switch to PER-FILE bitmap
    * application ([[graft.functions.DvRowAlive]]): only the metadata-scale
    * `dataFile → sidecar` NAME map is broadcast, each executor loads the
    * sidecars it touches once per JVM, and every row probes its own
    * file's sorted index array inside whole-stage codegen — no join, no
    * row-level broadcast, the shape that survives a 100-TB table whose
    * pipeline soft-deletes forever (the Delta per-file-bitmap discipline).
    * The count is a metadata-only upper bound from the sidecars' parquet
    * FOOTERS (cached — sidecars are immutable); an AtomicLong so specs
    * can force either path. Default 2^17: the measured crossover
    * (DvBitmapBench, SCALING.md §round-15) has bitmaps ahead well below
    * it (3.6× at 200k deleted rows, 5.9× at 1M, flat vs the broadcast's
    * growth), while smaller sets keep the longer-proven broadcast plan.
    */
  private[graft] val dvBitmapMinRows =
    new java.util.concurrent.atomic.AtomicLong(1L << 17)

  /** Driver-side cache of sidecar footer row counts (immutable files —
    * cacheable forever). One footer read per sidecar lifetime, no job.
    * Size-bounded (ADVICE r15): a session soft-deleting forever would
    * otherwise keep one entry per sidecar ever seen, including ones
    * purge/compact/vacuum already shed. 64k entries ≈ a few MB; eviction
    * drops entries not used recently, so hot sidecars stay cached.
    */
  private val sidecarRowsCache =
    com.google.common.cache.CacheBuilder.newBuilder()
      .maximumSize(65536).build[String, java.lang.Long]()

  private[graft] def sidecarRowCount(path: String, dvFile: String): Long = {
    val key = s"$path/$dvFile"
    val cached = sidecarRowsCache.getIfPresent(key)
    if (cached != null) cached.longValue()
    else {
      // two threads may both read one footer; the file is immutable
      val md = localParquetFooter(new java.io.File(key))
      val blocks = md.getBlocks
      var i = 0; var n = 0L
      while (i < blocks.size()) { n += blocks.get(i).getRowCount; i += 1 }
      sidecarRowsCache.put(key, n)
      n
    }
  }

  /** Upper bound on the active deleted-row count: the summed footer row
    * counts of the DISTINCT active sidecars (a sidecar may also carry
    * superseded entries — overcounting only flips to the bitmap path
    * early, never late). Metadata-scale: O(#sidecars) cached footer reads,
    * zero Spark jobs.
    */
  private def activeDvRowCount(path: String, active: Map[String, String]): Long =
    active.values.toSet.iterator.map(sidecarRowCount(path, _)).sum

  /** Apply `active` deletion vectors to a meta-tagged frame (the
    * [[readFilesMeta]] shape — `__graft_file`/`__graft_ri` attached; both
    * columns are KEPT for the caller to use or drop). Path choice by
    * [[dvBitmapMinRows]]: broadcast LeftAnti below, per-file bitmap
    * filter above — identical visible rows either way (spec-pinned), so
    * the broadcast plan stays the bitmap path's oracle twin.
    */
  private[graft] def applyActiveDvs(spark: SparkSession, path: String,
      metaDf: DataFrame, active: Map[String, String]): DataFrame =
    if (active.isEmpty) metaDf
    else if (activeDvRowCount(path, active) <= dvBitmapMinRows.get())
      metaDf.join(broadcast(dvRowsDf(spark, path, active)),
        col(MetaFileCol) === col(DvFileCol) &&
          col(MetaRiCol) === col(DvRiCol), "left_anti")
    else
      metaDf.filter(graft.functions.DvRowAlive(col(MetaFileCol),
        col(MetaRiCol), new graft.functions.DvLookup(path,
          spark.sparkContext.broadcast(active))))

  /** DV-aware load of snapshot `files`: the plain distributed parquet
    * scan when none of them carries a deletion vector (the common case —
    * zero overhead), otherwise [[applyActiveDvs]] (broadcast anti-join on
    * (file_name, row_index) below the bitmap threshold, per-file bitmap
    * filter above). The DV side is deleted-rows-scale metadata by
    * contract ([[deleteWhereDV]] is the soft-delete path;
    * [[purgeDeletes]]/[[compact]] materialize before it grows to data
    * scale) — either way the table is never shuffled.
    */
  private def readFilesWithDvs(spark: SparkSession, path: String,
      files: Seq[String], snap: Snapshot): DataFrame = {
    val present = files.toSet
    val active = snap.dvs.filter { case (f, _) => present.contains(f) }
    if (active.isEmpty)
      logicalizeRead(scanFiles(spark, path, files, snap),
        snap.columnMap, snap.physTombstones)
    else
      applyActiveDvs(spark, path,
        readFilesMeta(spark, path, files, snap, snap), active)
        .drop(MetaFileCol, MetaRiCol)
  }

  /** Row-level CHANGE DATA FEED between versions (the Delta CDF shape,
    * derived purely from the log's file actions): for every version `v`
    * in `(fromExclusive, to]`, emits each row of the files the commit
    * ADDED as `_change_type = 'insert'` and each row of the files it
    * REMOVED as `_change_type = 'delete'`, tagged `_commit_version = v`.
    * A rewrite commit ([[deleteWhere]] / [[replaceWhereKeys]]) therefore
    * emits delete(every old-file row) + insert(every survivor row) —
    * net-correct as a MULTISET: applying versions in order to a mirror
    * (minus deletes, plus inserts — [[mirrorFromChanges]]) reconstructs
    * exactly the table at `to`. Consumers keying on a natural key can
    * collapse the delete+reinsert pairs into updates themselves.
    *
    * Reads are version-record metadata + the referenced data files —
    * distributed, O(changed files) per version. The feed window is
    * bounded by [[vacuum]]: a removed file is referenced by NO retained
    * snapshot, so vacuum physically deletes it and the versions whose
    * deletes it carried become unreadable — read the feed BEFORE
    * vacuuming past it (Delta's CDF retention has the same coupling).
    * Schema evolution: each version's files are read with the RECORDED
    * schema of the snapshot they belong to (removed files: the version
    * before; added and DV-touched files: the version itself), and every
    * version's rows align to the union schema (missing columns NULL). A
    * narrowing RESTORE therefore still emits the removed wide files'
    * columns on their delete rows.
    */
  def changes(spark: SparkSession, path: String, fromExclusive: Long,
      to: Long): DataFrame = {
    require(fromExclusive < to,
      s"TxLog.changes: empty range ($fromExclusive, $to]")
    val endSnap = resolve(path, to)
    val parts = Seq.newBuilder[DataFrame]
    var state = resolve(path, fromExclusive)
    (fromExclusive + 1 to to).foreach { v =>
      val (ps, after) = versionChangeParts(spark, path, v, state,
        feedLoader(spark, path, endSnap))
      parts ++= ps; state = after
    }
    val perVersion = parts.result()
    require(perVersion.nonEmpty,
      s"TxLog.changes: no file actions in ($fromExclusive, $to] at $path")
    perVersion.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The batch feed's file loader: `files` of snapshot `at`, read with
    * `at`'s recorded schema and served under the FEED-END mapping (the
    * Delta read-CDF-with-end-schema convention): physical names are
    * stable across renames, so pre-rename files' rows surface under the
    * final logical names and dropped columns project out everywhere.
    */
  private def feedLoader(spark: SparkSession, path: String,
      endSnap: Snapshot): (Seq[String], Snapshot) => DataFrame =
    (files, at) => readFilesMeta(spark, path, files, at, endSnap)

  /** One version's row-level change emission, given the snapshot BEFORE
    * it — the shared core of [[changes]], the keyed CDF consumer, and the
    * streaming CDF source (whose `loadMeta` returns streaming-flagged
    * frames; this helper only composes ordinary transforms on top).
    * `loadMeta(files, at)` loads files of snapshot `at` and must attach
    * the `__graft_file` / `__graft_ri` metadata columns ([[readFilesMeta]]
    * shape). Emission covers all three change carriers, deletes before
    * inserts:
    *
    *  - REMOVED files: their rows LIVE at v−1 (the pre-version DV state
    *    applies — emitting already-soft-deleted rows again would
    *    double-delete in any multiset fold);
    *  - ADDED files: their rows LIVE at v (a restore can re-add a file
    *    WITH a deletion vector — its dead rows never re-enter);
    *  - DV-delta on files present on both sides: newly-dead rows emit as
    *    deletes, resurrected rows (a restore clearing a later DV) emit as
    *    inserts.
    *
    * Returns (tagged parts, the snapshot at v).
    */
  private[graft] def versionChangeParts(
      spark: SparkSession, path: String, v: Long, before: Snapshot,
      loadMeta: (Seq[String], Snapshot) => DataFrame)
      : (Seq[DataFrame], Snapshot) = {
    val rec = parseRecord(path, v)
    val after = applyRecord(before, v, rec)
    val rm = rec.remove.toSet
    val addSet = rec.add.toSet
    val dvBefore = before.dvs
    val dvAfter = after.dvs
    def tag(df: DataFrame, kind: String): DataFrame =
      df.drop(MetaFileCol, MetaRiCol)
        .withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
    def liveRows(files: Seq[String], at: Snapshot): DataFrame = {
      val fileSet = files.toSet
      val active = at.dvs.filter { case (f, _) => fileSet.contains(f) }
      applyActiveDvs(spark, path, loadMeta(files, at), active)
    }
    val removedPart =
      if (rec.remove.isEmpty) Nil
      else Seq(tag(liveRows(rec.remove, before), "delete"))
    val addedPart =
      if (rec.add.isEmpty) Nil
      else Seq(tag(liveRows(rec.add, after), "insert"))
    // DV delta on files that stay present across the version
    val staying = rec.dvs.keys.toSeq.sorted
      .filter(f => before.files.contains(f) && !rm.contains(f) &&
        !addSet.contains(f))
    val (dvDeletes, dvInserts) =
      if (staying.isEmpty) (Nil, Nil)
      else {
        def rowsOf(m: Map[String, String]): Option[DataFrame] = {
          val active = m.filter { case (f, _) => staying.contains(f) }
          if (active.isEmpty) None else Some(dvRowsDf(spark, path, active))
        }
        val oldRows = rowsOf(dvBefore)
        val newRows = rowsOf(dvAfter)
        def minus(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] =
          a.map(x => b.fold(x)(y => x.join(y.withColumnRenamed(DvFileCol, "__b_f")
            .withColumnRenamed(DvRiCol, "__b_r"),
            col(DvFileCol) === col("__b_f") && col(DvRiCol) === col("__b_r"),
            "left_anti")))
        def dataAt(idx: Option[DataFrame], kind: String): Seq[DataFrame] =
          idx.map { ix =>
            tag(loadMeta(staying, after).join(broadcast(ix),
              col(MetaFileCol) === col(DvFileCol) &&
                col(MetaRiCol) === col(DvRiCol), "left_semi"), kind)
          }.toSeq
        (dataAt(minus(newRows, oldRows), "delete"),
          dataAt(minus(oldRows, newRows), "insert"))
      }
    // deletes first within a version: a rewrite's survivor re-inserts
    // must land after the old rows leave (order matters to appliers)
    (removedPart ++ dvDeletes ++ addedPart ++ dvInserts, after)
  }

  /** Version `v`'s raw file actions `(added, removed, added files' stats)`
    * — the seam the streaming-source replay consumes (commit-ordered
    * appends).
    */
  private[graft] def fileActions(path: String, v: Long)
      : (Seq[String], Seq[String], Map[String, FileStats]) = {
    val rec = parseRecord(path, v)
    (rec.add, rec.remove, rec.stats)
  }

  /** True when version `v` changes any deletion-vector entry — the
    * append-only streaming source treats it as a delete-class commit.
    */
  private[graft] def hasDvActions(path: String, v: Long): Boolean =
    parseRecord(path, v).dvs.nonEmpty

  /** Reconstruct the table at version `to` from the change feed ALONE —
    * the semantic reference for any CDF consumer, and the proof the feed
    * is complete: fold versions 0..to in order, each step removing the
    * version's delete-rows (multiset subtract) and adding its
    * insert-rows. `exceptAll` keys on WHOLE rows, which is exactly the
    * file-action contract (a removed file's rows leave as-written).
    * Production consumers at 100 TB would merge by natural key per batch
    * instead of multiset-subtracting the full mirror; this fold is the
    * oracle-shaped reference, gated as `q_o_txlog_cdf` against a
    * closed-form final-state oracle.
    */
  def mirrorFromChanges(spark: SparkSession, path: String,
      to: Option[Long] = None): DataFrame = {
    val v = to.orElse(currentVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val feed = changes(spark, path, -1L, v)
    val dataCols = feed.columns
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    val versions = (0L to v)
    var mirror = feed.filter(lit(false)).select(dataCols.map(col): _*)
    versions.foreach { w =>
      val batch = feed.filter(col("_commit_version") === w)
      val dels = batch.filter(col("_change_type") === "delete")
        .select(dataCols.map(col): _*)
      val ins = batch.filter(col("_change_type") === "insert")
        .select(dataCols.map(col): _*)
      mirror = mirror.exceptAll(dels).unionAll(ins)
    }
    mirror
  }

  /** Keyed CDF consumer — the PRODUCTION-SHAPED fold [[mirrorFromChanges]]
    * is the oracle for: apply versions `0..to` to a mirror by NATURAL KEY
    * `keys`, one bounded step per version. Per version the delete rows
    * collapse to their distinct key set (batch-scale) and leave the mirror
    * through a BROADCAST anti-join — the mirror itself is never shuffled —
    * then the insert rows union in; the mirror is CHECKPOINTED to parquet
    * between versions, so the plan stays O(1) per applied version instead
    * of `mirrorFromChanges`' O(versions) `exceptAll` chain. Per-version
    * cost: one mirror scan + rewrite + a broadcast of the version's keys —
    * the DimStore-merge shape, bounded by |mirror| + |batch|, independent
    * of history length.
    *
    * Semantics contract: equals [[mirrorFromChanges]] exactly WHEN every
    * version keeps `keys` unique (the discipline `replaceWhereKeys`
    * maintains and any keyed table owes itself) — a rewrite's
    * delete+reinsert pair collapses to an update because deletes apply
    * before inserts within a version, same ordering as the multiset fold.
    * On a key-duplicated table a keyed delete removes EVERY row with the
    * key, which is what MERGE semantics mean — the multiset fold is the
    * reference for that case. `keys` must exist from version 0.
    *
    * The returned frame reads the FINAL checkpoint under `workDir`
    * (caller-owned when given; a temp dir otherwise — persist the result
    * before deleting it). Production consumers point `workDir` at their
    * mirror table's storage and resume by folding only new versions on
    * top of the last checkpoint; this entry point replays from 0 so the
    * gate can pin it against the multiset reference end-to-end.
    */
  def mergeByKeyFromChanges(spark: SparkSession, path: String,
      keys: Seq[String], to: Option[Long] = None,
      workDir: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "TxLog.mergeByKeyFromChanges: keys must be non-empty")
    val v = to.orElse(currentVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val work = workDir.map(new java.io.File(_)).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_cdfmerge").toFile)
    work.mkdirs()
    var mirror: Option[DataFrame] = None
    var prevCkpt: Option[java.io.File] = None
    var state = resolve(path, -1L)
    val endSnap = resolve(path, v) // feed-end column mapping (see changes)
    (0L to v).foreach { w =>
      // the shared per-version emission (DV-aware: removed files emit
      // only their LIVE rows, a DV delta emits exactly the newly-dead /
      // resurrected rows) — keyed consumption of the same feed the
      // multiset oracle folds
      // delete carriers, from the record itself: remove actions or a DV
      // entry SET (a clear only resurrects — inserts). Without this an
      // insert-only version would still pay a distinct + broadcast
      // anti-join of a provably-empty key set (parts is non-empty
      // whenever the version has ANY file action).
      val rec = parseRecord(path, w)
      val mayDelete = rec.remove.nonEmpty || rec.dvs.exists(_._2.isDefined)
      val (parts, after) = versionChangeParts(spark, path, w, state,
        feedLoader(spark, path, endSnap))
      state = after
      // each part is wholly one kind; split on the tag column
      val dels = parts.map(_.filter(col("_change_type") === "delete"))
        .map(_.select(keys.map(col): _*))
      val inserts = parts.map(_.filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version"))
      var m = mirror
      if (mayDelete && dels.nonEmpty) m = m.map { cur =>
        // the version's delete KEY SET is batch-scale; broadcasting it
        // keeps the mirror map-side (zero shuffle per applied version)
        val delKeys = dels.reduce(_.unionAll(_)).distinct()
        cur.join(broadcast(delKeys), keys, "left_anti")
      }
      if (inserts.nonEmpty) {
        val ins = inserts.reduce(_.unionByName(_, allowMissingColumns = true))
        // allowMissingColumns: a widening append evolves the mirror schema
        // in place (older rows NULL in the new columns — the q_s14 contract)
        m = Some(m.map(_.unionByName(ins, allowMissingColumns = true))
          .getOrElse(ins))
      }
      m.foreach { cur =>
        val ckpt = new java.io.File(work, f"v$w%020d")
        cur.write.mode("overwrite").parquet(ckpt.getPath)
        mirror = Some(spark.read.parquet(ckpt.getPath))
        // the previous checkpoint was fully consumed by the write above
        prevCkpt.foreach(graft.core.Fs.rmTree)
        prevCkpt = Some(ckpt)
      }
    }
    mirror.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], endSnap.schema))
  }

  /** One retained commit's audit row — see [[history]]. `operation` /
    * `params` come from the version record's commit info; `rowsAdded`
    * sums the commit's per-added-file stats (None when some added file has
    * no stats — a table with no stats-eligible column — never guessed).
    */
  final case class CommitInfo(version: Long, operation: Option[String],
      params: Map[String, String], addedFiles: Int, removedFiles: Int,
      rowsAdded: Option[Long],
      // RAW commit wall-clock (epoch millis) as recorded by the writer —
      // the audit truth; TIMESTAMP AS OF resolution uses the CLAMPED
      // monotone sequence instead ([[clampedCommitTimestamps]])
      timestampMillis: Option[Long] = None)

  /** The audit trail of every RETAINED commit, newest first (the Delta
    * `DESCRIBE HISTORY` shape): which operation produced each version,
    * with the caller-supplied parameters recorded at commit time, plus
    * file/row deltas from the action record itself. Commit info is
    * per-version annotation, not resolved state — checkpoints do not
    * carry it — so history is bounded by [[vacuum]] retention exactly
    * like Delta's. Pure log-metadata read: O(retained versions) record
    * parses, zero jobs.
    */
  def commitInfos(path: String): Seq[CommitInfo] = {
    val vs = listVersionNumbers(path).sorted
    require(vs.nonEmpty, s"TxLog: no table at $path")
    vs.reverseIterator.map { v =>
      val rec = parseRecord(path, v)
      val add = rec.add
      val rowsAdded =
        if (add.isEmpty) Some(0L)
        else if (add.forall(rec.stats.contains))
          Some(add.iterator.map(f => rec.stats(f).rows).sum)
        else None
      CommitInfo(v, rec.info.map(_._1),
        rec.info.map(_._2).getOrElse(Map.empty),
        add.size, rec.remove.size, rowsAdded, Some(rec.tsMillis))
    }.toSeq
  }

  /** [[commitInfos]] as a DataFrame (newest first; metadata-scale —
    * built driver-side like every log read).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      // leading timestamp column — what DESCRIBE HISTORY users reach for
      // first; TIMESTAMP_NTZ under the engine's fixed-UTC mapping, RAW
      // writer stamps (resolution clamps separately)
      StructField("timestamp", TimestampNTZType, nullable = true),
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType, nullable = true),
      StructField("params", MapType(StringType, StringType), nullable = false),
      StructField("n_added_files", IntegerType, nullable = false),
      StructField("n_removed_files", IntegerType, nullable = false),
      StructField("rows_added", LongType, nullable = true)))
    val rows = commitInfos(path).map(ci => Row(
      ci.timestampMillis.map(millisToLdt).orNull, ci.version,
      ci.operation.orNull, ci.params, ci.addedFiles, ci.removedFiles,
      ci.rowsAdded.map(java.lang.Long.valueOf).orNull))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def millisToLdt(ms: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochMilli(ms),
      java.time.ZoneOffset.UTC)

  /** The retained versions' commit timestamps CLAMPED to strict
    * monotonicity (Delta's resolution rule: a stamp at or below its
    * predecessor's clamped value becomes predecessor + 1 ms — version
    * order is the commit truth; wall clocks only annotate it). Ascending
    * by version.
    */
  private[graft] def clampedCommitTimestamps(path: String): Seq[(Long, Long)] = {
    val vs = listVersionNumbers(path).sorted
    require(vs.nonEmpty, s"TxLog: no table at $path")
    var prev = Long.MinValue
    vs.map { v =>
      val raw = parseRecord(path, v).tsMillis
      val clamped = if (prev == Long.MinValue) raw else math.max(raw, prev + 1)
      prev = clamped
      (v, clamped)
    }
  }

  /** The version `TIMESTAMP AS OF tsMillis` resolves to: the newest
    * retained version whose CLAMPED commit timestamp is at or below the
    * requested instant (the Delta contract). Named errors outside the
    * servable window, both directions: BELOW the earliest retained commit
    * there is no state to serve (vacuum horizon — same reason version
    * travel refuses there); ABOVE the newest commit the caller is asking
    * about a future this log has not recorded — serving "latest" would
    * silently answer a different question than asked (Delta refuses the
    * same way and names the latest usable timestamp).
    */
  def versionAtTimestamp(path: String, tsMillis: Long): Long = {
    val ts = clampedCommitTimestamps(path)
    require(tsMillis >= ts.head._2,
      s"TxLog: timestamp $tsMillis is before the earliest retained " +
        s"commit (${ts.head._2} at version ${ts.head._1}) - versions " +
        "below the vacuum retention horizon are gone")
    require(tsMillis <= ts.last._2,
      s"TxLog: timestamp $tsMillis is after the latest commit " +
        s"(${ts.last._2} at version ${ts.last._1}) - the log has no " +
        "state recorded there; read the latest version explicitly")
    ts.filter(_._2 <= tsMillis).last._1
  }

  /** `read` at the version [[versionAtTimestamp]] resolves — timestamp
    * time travel (`TIMESTAMP AS OF`), DV-aware like every read.
    */
  def readTimestampAsOf(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    read(spark, path, asOf = Some(versionAtTimestamp(path, tsMillis)))

  /** Publish the commit taking `base` to `after` as version
    * `after.version`: a DELTA action record (`add` / `remove` —
    * O(changed files) bytes) through the configured [[CommitPrimitive]],
    * so the version file appears atomically with its complete content
    * and the create fails if the version exists (loser raises
    * [[ConflictException]]). A reader can never observe an empty/torn
    * version file, and a writer crash leaves only an invisible `.tmp`
    * (reaped by [[vacuum]]). Returns `after`.
    *
    * The record carries `after`'s schema and partition columns, the
    * ADDED files' stats and the REMOVED files' partition tuples (from
    * `base`); the remaining actions are the arguments. Every
    * [[CheckpointInterval]] commits, `after` is also written as the
    * full-state checkpoint and the `_last_checkpoint` hint refreshed. The
    * commit IS the version file; checkpoint/hint failures must never make
    * a SUCCEEDED commit look failed to the caller.
    */
  private def publish(path: String, base: Snapshot, after: Snapshot,
      add: Seq[String], remove: Seq[String],
      // NO default: every committer must name the operation that produced
      // the version (Delta's commitInfo role) — the raw material of
      // [[history]]; an unattributed commit would be a blind spot in the
      // audit trail forever
      info: (String, Map[String, String]),
      txn: Option[(String, Long)] = None,
      // Some(map) ONLY on constraint-changing commits (records the full
      // post-commit map; Some(empty) = explicit clear); None = unchanged
      constraints: Option[Map[String, String]] = None,
      // the commit's per-file deletion-vector entry CHANGES (None = clear)
      dvs: Map[String, Option[String]] = Map.empty,
      // column-mapping ACTIONS: Some = full post-commit state (mapping-
      // changing commits — rename/drop/extension); None = unchanged
      colMap: Option[Map[String, String]] = None,
      colDrop: Option[Set[String]] = None,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val v = after.version
    val dir = logDir(path)
    if (!dir.exists()) dir.mkdirs()
    val addSet = add.toSet
    val bytes = encodeRecord(v, VersionRecord(add, remove, after.schema, txn,
      constraints, after.stats.filter { case (f, _) => addSet.contains(f) },
      Some(info), dvs, clock.value(),
      Some(after.partitionCols).filter(_.nonEmpty),
      removePartsOf(base.stats, remove), colMap, colDrop))
    val target = versionFile(path, v).toPath
    try primitive.value.create(target, bytes)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConflictException(v)
      case _: UnsupportedOperationException =>
        // no hard links on this filesystem: degraded atomic-existence
        // publish (window documented on CommitPrimitive.CreateWrite)
        try CommitPrimitive.CreateWrite.create(target, bytes)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new ConflictException(v)
        }
    }
    if (v % CheckpointInterval == 0)
      try {
        writeCheckpointParquet(path, after)
        writeCheckpointHint(path, v)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // the commit IS the version file — a checkpoint/hint failure must
          // never make a SUCCEEDED commit look failed. But it is also not
          // cosmetic: commit-time checkpoints bound read-side replay cost,
          // and repeated failures mean every reader replays an ever-longer
          // tail. Route it to the same structured channel as txlog_conflict
          // so operators SEE the degradation (stderr as last resort).
          alerts match {
            case Some(sink) => sink.send(graft.runner.Alerts.Alert(
              "txlog_checkpoint_failed", path, "checkpoint",
              s"commit v$v succeeded but its checkpoint write failed " +
                s"(reads replay a longer action tail until one succeeds): $e"))
            case None =>
              System.err.println(s"[txlog] checkpoint write failed at $path v$v: $e")
          }
      }
    after
  }

  /** Retry loop around an optimistic commit: re-reads the current version
    * and re-runs `attempt` (which must RE-DERIVE its writes from the
    * version it is handed — retrying a stale delta would reintroduce the
    * lost update the conflict prevented) until it commits or retries are
    * exhausted. Each conflict emits a structured `txlog_conflict` alert so
    * operators see contention.
    */
  def commitWithRetry(path: String, maxRetries: Int = 5,
      alerts: Option[graft.runner.Alerts.Sink] = None)(
      attempt: Long => Snapshot): Snapshot = {
    var tries = 0
    while (true) {
      val v = currentVersion(path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      try return attempt(v)
      catch {
        case e: ConflictException =>
          tries += 1
          alerts.foreach(_.send(graft.runner.Alerts.Alert(
            "txlog_conflict", path, "commit",
            s"optimistic commit conflict (attempt $tries of ${maxRetries + 1}): ${e.getMessage}")))
          if (tries > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stats-eligible columns cap (Delta's `dataSkippingNumIndexedCols`
    * role): per-file stats are O(files × cols) checkpoint bytes, so very
    * wide tables index only the first N eligible columns.
    */
  val MaxStatsCols = 32

  /** String-stat truncation width in CODE POINTS (Delta truncates its
    * string stats the same way): without a cap a single document-sized
    * value would bloat every version record and checkpoint. Code points,
    * not UTF-16 chars — truncating inside a surrogate pair would store an
    * unpaired surrogate whose UTF-8 bytes break the binary order the
    * bounds are compared in.
    */
  val MaxStringStatChars = 32

  /** First `n` code points of `s` (whole string when shorter). */
  private def takeCodePoints(s: String, n: Int): String =
    s.substring(0, s.offsetByCodePoints(0,
      math.min(n, s.codePointCount(0, s.length))))

  /** The smallest convenient string STRICTLY ABOVE every extension of
    * prefix `s`, in code-point (= UTF8 binary) order: last code point
    * incremented — skipping the surrogate range (not valid standalone
    * code points) and carrying past U+10FFFF by dropping it and
    * incrementing the previous position. None when `s` is all U+10FFFF
    * (no such string exists) — the bound degrades to unbounded-above.
    */
  private[graft] def incrementLastCodePoint(s: String): Option[String] = {
    val sb = new java.lang.StringBuilder(s)
    var i = sb.length
    while (i > 0) {
      val cp = sb.codePointBefore(i)
      val start = i - Character.charCount(cp)
      if (cp < 0x10FFFF) {
        var next = cp + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        sb.delete(start, sb.length)
        sb.appendCodePoint(next)
        return Some(sb.toString)
      }
      sb.delete(start, sb.length) // U+10FFFF: drop and carry left
      i = start
    }
    None
  }

  /** Upper string bound from the collected per-file maximum over
    * (MaxStringStatChars+1)-code-point prefixes. When the collected value
    * fits in MaxStringStatChars it IS an upper bound for the whole file:
    * any longer row's 33-cp prefix would be ≤ it while differing before
    * its end, which forces the full row below it too. When the collected
    * value was itself truncated, the only sound cheap bound is the
    * incremented 32-cp prefix (strictly above every extension).
    */
  private def strMaxBound(collected: String): Option[String] =
    if (collected.codePointCount(0, collected.length) <= MaxStringStatChars)
      Some(collected)
    else incrementLastCodePoint(takeCodePoints(collected, MaxStringStatChars))

  /** Canonical-long projection of a stats-eligible column, or None for
    * ineligible types. DATE → epoch days; TIMESTAMP_NTZ → epoch micros
    * through the session-timezone cast (stable + monotone under the fixed
    * UTC session GraftSession pins — the same wall-clock mapping a reader
    * session applies, so recorded bounds and query bounds agree).
    */
  private def canonCol(dt: DataType, c: String): Option[Column] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(col(c).cast("long"))
      case DateType          => Some(unix_date(col(c)).cast("long"))
      case TimestampNTZType  => Some(unix_micros(col(c).cast("timestamp")))
      case _                 => None
    }
  }

  private def statsTypeTag(dt: DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType         => "d"
      case TimestampNTZType => "t"
      case StringType       => "s"
      case _                => "l"
    }
  }

  /** Spec seam: force the distributed-agg stats path (equality proofs). */
  private[graft] val statsFooterDisabled =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Commits whose stats computation fell back to the distributed agg. */
  private[graft] val statsFooterFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** UTF-8-byte order compare (= code-point order — the order every stats
    * consumer uses; java.lang.String.compareTo is UTF-16 and DISAGREES
    * above the BMP).
    */
  private def utf8Compare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Spark's CAST(timestamp_ntz AS STRING) rendering (fraction trimmed of
    * trailing zeros) for the partition-value record. Years outside
    * [1, 9999] refuse — the caller falls back to the agg, which renders
    * through Spark itself.
    */
  private def ntzMicrosToSqlString(us: Long): String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    require(ldt.getYear >= 1 && ldt.getYear <= 9999,
      s"NTZ year ${ldt.getYear} outside plain-render range")
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val frac = Math.floorMod(us, 1000000L)
    if (frac == 0L) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** Per-file column stats straight from the staged files' parquet
    * FOOTERS — the zero-job twin of the distributed stats agg (round-16
    * optimization, guide §1.2/§5: the agg re-read every staged byte in a
    * SECOND Spark job per commit just to reduce to O(files) rows of
    * min/max/null-counts the writer's own footers already carry;
    * parquet-mr row-group statistics are untruncated by default —
    * DEFAULT_STATISTICS_TRUNCATE_LENGTH = Int.MaxValue — so footer
    * min/max are the exact value extremes).
    *
    * EXACT equivalence with the agg, not an approximation (spec-pinned):
    *  - integral/DATE/TIMESTAMP_NTZ canonical longs ARE the stored
    *    physical values (epoch days / micros);
    *  - string stats: substring-to-k-code-points is monotone in UTF-8
    *    order, so min/max commute with prefixing — takeCodePoints(footer
    *    min, cap) equals the agg's min-of-prefixes, and strMaxBound over
    *    the (cap+1)-cp prefix of the footer max equals the agg's bound;
    *  - per-file partition values render through the same CAST-AS-STRING
    *    shapes (all-rows-equal by the partitioned stage).
    *
    * Returns None — the caller falls back to the distributed agg — on
    * ANYTHING unexpected (missing chunk, unset stats, foreign statistics
    * type, out-of-range render): the fallback is the proven path.
    */
  private def statsFromFooters(
      parts: Seq[java.io.File],
      eligible: Seq[(String, String)],
      partitionCols: Seq[String]): Option[Map[String, FileStats]] = {
    if (statsFooterDisabled.get()) return None
    import scala.jdk.CollectionConverters._
    try {
      def one(f: java.io.File): (String, FileStats) = {
        val md = localParquetFooter(f)
        val blocks = md.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val n = eligible.size
        val nulls = new Array[Long](n)
        val lmin = Array.fill(n)(Long.MaxValue)
        val lmax = Array.fill(n)(Long.MinValue)
        val bmin = new Array[Array[Byte]](n)
        val bmax = new Array[Array[Byte]](n)
        val any = new Array[Boolean](n)
        blocks.foreach { b =>
          val byName = b.getColumns.asScala.iterator
            .filter(_.getPath.size == 1)
            .map(c => c.getPath.toArray.apply(0) -> c).toMap
          eligible.zipWithIndex.foreach { case ((name, tag), k) =>
            val chunk = byName.getOrElse(name,
              throw new IllegalStateException(s"no footer chunk for '$name'"))
            val st = chunk.getStatistics
            require(st != null && st.isNumNullsSet, s"footer stats unset for '$name'")
            nulls(k) += st.getNumNulls
            if (st.hasNonNullValue) {
              any(k) = true
              if (tag == "s") st match {
                case bs: org.apache.parquet.column.statistics.BinaryStatistics =>
                  val mn = bs.genericGetMin.getBytes
                  val mx = bs.genericGetMax.getBytes
                  if (bmin(k) == null || utf8Compare(mn, bmin(k)) < 0) bmin(k) = mn
                  if (bmax(k) == null || utf8Compare(mx, bmax(k)) > 0) bmax(k) = mx
                case other => throw new IllegalStateException(
                  s"string column '$name' with ${other.getClass.getSimpleName}")
              } else {
                val (mn, mx) = st match {
                  case is: org.apache.parquet.column.statistics.IntStatistics =>
                    (is.getMin.toLong, is.getMax.toLong)
                  case ls: org.apache.parquet.column.statistics.LongStatistics =>
                    (ls.getMin, ls.getMax)
                  case other => throw new IllegalStateException(
                    s"long-domain column '$name' with ${other.getClass.getSimpleName}")
                }
                if (mn < lmin(k)) lmin(k) = mn
                if (mx > lmax(k)) lmax(k) = mx
              }
            }
          }
        }
        def str(k: Int, bytes: Array[Byte]): String =
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val cols = eligible.zipWithIndex.map { case ((name, tag), k) =>
          if (tag == "s")
            (name, ColStats(tag, nulls(k), None, None,
              if (any(k)) Some(takeCodePoints(str(k, bmin(k)), MaxStringStatChars)) else None,
              (if (any(k)) Some(takeCodePoints(str(k, bmax(k)), MaxStringStatChars + 1))
               else None).flatMap(strMaxBound)))
          else
            (name, ColStats(tag, nulls(k),
              if (any(k)) Some(lmin(k)) else None,
              if (any(k)) Some(lmax(k)) else None))
        }.toMap
        // partition tuple: all rows of a staged file share one partition
        // value (possibly NULL) — min IS the value; partition columns are
        // always the FIRST eligible entries (cap ordering guarantees it)
        val pvals = partitionCols.map { c =>
          val k = eligible.indexWhere(_._1 == c)
          require(k >= 0, s"partition column '$c' not stats-eligible")
          if (!any(k)) None
          else Some(eligible(k)._2 match {
            case "s" => str(k, bmin(k))
            case "d" =>
              val day = java.time.LocalDate.ofEpochDay(lmin(k))
              require(day.getYear >= 1 && day.getYear <= 9999,
                s"date year ${day.getYear} outside plain-render range")
              day.toString
            case "t" => ntzMicrosToSqlString(lmin(k))
            case _   => lmin(k).toString
          })
        }
        f.getName -> FileStats(rows, cols, parts = pvals)
      }
      // Footer reads are independent per file — a commit staging many
      // files must not serialize them on the driver (round-16 verdict
      // What's-wrong #3). Small stages stay on the calling thread (no
      // pool churn per tiny commit); larger ones fan out over a bounded
      // pool. Any per-file failure surfaces via Future.get as an
      // ExecutionException — NonFatal, so the proven distributed-agg
      // fallback below still catches it.
      val entries: Seq[(String, FileStats)] =
        if (parts.size <= 4) parts.map(one)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(parts.size, 16))
          try parts.map(f => pool.submit(
              new java.util.concurrent.Callable[(String, FileStats)] {
                def call(): (String, FileStats) = one(f)
              })).map(_.get())
          finally pool.shutdown()
        }
      Some(entries.toMap)
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Write `df`'s rows as new immutable data files under `path`, WITHOUT
    * committing them — returns the new file names plus their per-file
    * column stats (read driver-side from the staged files' parquet
    * FOOTERS — zero jobs, exact; falls back to ONE distributed agg over
    * the staged files grouped on `input_file_name()` when a footer is
    * missing stats — see [[statsFromFooters]]). A crash after this leaves
    * invisible orphans only.
    */
  /** Fresh PHYSICAL name for logical column `logical` under an active
    * mapping: the logical name itself when no current physical or
    * tombstone claims it (files stay human-readable), else the first
    * free reserved-prefix name — deterministic, so concurrent writers
    * re-deriving from the same base agree.
    */
  private def freshPhysicalName(logical: String, used: Set[String]): String =
    if (!used.contains(logical)) logical
    else Iterator.from(0).map(k => s"__gcol${k}_$logical")
      .find(!used.contains(_)).get

  /** Extend an ACTIVE column mapping with physical names for `schema`
    * fields it does not cover yet (new logical columns from a widening
    * append / addColumn) — identity tables (empty map, no tombstones)
    * stay identity. Returns (map, changed).
    */
  private def extendColumnMap(map: Map[String, String],
      tombstones: Set[String],
      schema: StructType): (Map[String, String], Boolean) =
    if (map.isEmpty && tombstones.isEmpty) (map, false)
    else {
      var m = map
      var changed = false
      schema.fieldNames.filterNot(m.contains).foreach { l =>
        m += l -> freshPhysicalName(l, m.values.toSet ++ tombstones)
        changed = true
      }
      (m, changed)
    }

  /** Rename a LOGICAL frame to physical column names for writing — one
    * projection (no intermediate-rename collisions). Identity when the
    * mapping is empty.
    */
  private def physicalize(df: DataFrame,
      columnMap: Map[String, String]): DataFrame =
    if (columnMap.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(columnMap.getOrElse(c, c))): _*)

  /** The recorded schema in PHYSICAL column names, all-nullable — the
    * explicit read schema for WRITER-INTERNAL probe/survivor reads.
    * Footer-schema reads are wrong there in both directions: merging
    * (mergeSchema=true) refuses int→long widened re-declares that
    * parquet type widening reads fine (round-12 gotcha), and
    * single-footer sampling (mergeSchema=false) silently DROPS columns
    * the sampled file predates — a survivor rewrite after a widening
    * append would lose the new column's values in rewritten files (REAL
    * latent bug, caught by the round-14 column-mapping property fuzz).
    * An explicit schema null-fills missing columns and type-widens old
    * ones, which is exactly what the rows MEAN in the table.
    */
  private def physicalReadSchema(snap: Snapshot): StructType = {
    def nullable(d: DataType): DataType = d match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        org.apache.spark.sql.types.ArrayType(nullable(et), true)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        org.apache.spark.sql.types.MapType(nullable(k), nullable(v), true)
      case other => other
    }
    StructType(snap.schema.fields.map(f => f.copy(
      name = snap.columnMap.getOrElse(f.name, f.name),
      dataType = nullable(f.dataType), nullable = true)))
  }

  /** Rename a PHYSICAL frame (a file read) back to logical names and
    * project out dropped columns' tombstoned physicals — the read half of
    * column mapping. Non-data columns (the __graft metadata tags) pass
    * through untouched. Identity when the mapping is inactive.
    */
  private def logicalizeRead(df: DataFrame, columnMap: Map[String, String],
      tombstones: Set[String]): DataFrame =
    if (columnMap.isEmpty && tombstones.isEmpty) df
    else {
      val inv = columnMap.map(_.swap) // physical -> logical (values unique)
      val keep = df.columns.filterNot(tombstones.contains)
      df.select(keep.map(c => col(c).as(inv.getOrElse(c, c))): _*)
    }

  /** Types a partition column may have: exactly the stats-eligible set
    * (canonical-long domains + string) — a partitioned table therefore
    * ALWAYS has at least one stats-eligible column, so every committed
    * file gets a FileStats entry carrying its partition values (the
    * all-files-covered invariant the metadata-only partition ops need).
    */
  private def isPartitionableType(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampNTZType | StringType => true
      case _ => false
    }
  }

  /** Write `df`'s rows as data files under `path` (invisible until a
    * version record references them), returning the file names and their
    * per-file stats. On a PARTITIONED table (`partitionCols` non-empty)
    * the staged write goes through `partitionBy` over SHADOW copies of
    * the partition columns — the shadow keeps the real column IN the
    * data files (a `partitionBy` on the column itself would strip it,
    * breaking every explicit-file-list read path) while still splitting
    * files partition-pure. The staged Hive layout is then FLATTENED into
    * unique flat names: the table's physical layout stays flat BY DESIGN
    * (partitioning is a LOG concept here, like Iceberg's hidden
    * partitioning — on object stores directory layout buys nothing, and
    * a flat layout keeps file names the stable per-file key every other
    * map uses; Spark's partitionBy reuses part-file names ACROSS
    * partition directories, so unflattened names would collide). Each
    * file's partition tuple is captured in the same per-file stats agg
    * (all rows of a file share it by construction) and recorded as
    * [[FileStats.parts]].
    */
  private def writeDataFiles(df0: DataFrame,
      path: String,
      partitionCols: Seq[String],
      // ACTIVE column mapping (must already cover every df column -
      // callers extend first): data files store PHYSICAL names
      columnMap: Map[String, String] = Map.empty)
      : (Seq[String], Map[String, FileStats]) = {
    // physicalize up front: the staged files, the stats agg (stats are
    // keyed by the PHYSICAL name - what the files and the pruned reads
    // see), and the partition shadow columns all run over physical names;
    // partition columns are identity-mapped by the rename/drop refusals
    val df = physicalize(df0, columnMap)
    val stage = java.nio.file.Files.createTempDirectory("graft_txdata")
    try {
      if (partitionCols.isEmpty)
        df.write.mode("overwrite").parquet(stage.toString)
      else {
        partitionCols.foreach { c =>
          val f = df.schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"TxLog: commit to a table partitioned by " +
                s"(${partitionCols.mkString(", ")}) is missing partition " +
                s"column '$c' - every write to a partitioned table must " +
                "include all partition columns"))
          require(isPartitionableType(f.dataType),
            s"TxLog: partition column '$c' has unsupported type " +
              s"${f.dataType.simpleString} (supported: integral, DATE, " +
              "TIMESTAMP_NTZ, STRING)")
        }
        val shadows = partitionCols.indices.map(i => s"__graft_pt_$i")
        val staged = partitionCols.zip(shadows).foldLeft(df) {
          case (d, (c, s)) => d.withColumn(s, col(c))
        }
        staged.write.mode("overwrite").partitionBy(shadows: _*)
          .parquet(stage.toString)
        flattenStage(stage)
      }
      // an EMPTY partitioned write stages NOTHING (partitionBy emits no
      // dirs without partition values — unlike the unpartitioned write's
      // single empty part file): commit zero files rather than read an
      // empty stage (the V2 catalog's CREATE of an empty partitioned
      // table hits exactly this)
      if (stage.toFile.listFiles() == null || !stage.toFile.listFiles()
          .exists(f => f.isFile &&
            StagedDataFileRe.pattern.matcher(f.getName).matches()))
        return (Nil, Map.empty)
      // stats-eligible columns — partition columns FIRST when the table
      // is partitioned, so the MaxStatsCols cap can never evict the
      // columns the partition-values invariant depends on
      val orderedFields =
        if (partitionCols.isEmpty) df.schema.fields.toSeq
        else partitionCols.flatMap(c => df.schema.fields.find(_.name == c)) ++
          df.schema.fields.toSeq.filterNot(f => partitionCols.contains(f.name))
      val eligible = orderedFields
        .flatMap { f =>
          f.dataType match {
            // strings aggregate over a (cap+1)-code-point prefix: min of
            // prefixes is a sound lower bound (prefix <= extension in UTF8
            // order); the +1 cp lets strMaxBound distinguish "fits exactly"
            // from "was truncated" without shipping whole values
            case org.apache.spark.sql.types.StringType =>
              Some((f.name, "s",
                substring(col(f.name), 1, MaxStringStatChars + 1)))
            case dt => canonCol(dt, f.name)
              .map(cc => (f.name, statsTypeTag(dt), cc))
          }
        }
        .take(MaxStatsCols)
      val parts = stage.toFile.listFiles().filter(f =>
        f.isFile && StagedDataFileRe.pattern.matcher(f.getName).matches())
      val stats: Map[String, FileStats] =
        if (eligible.isEmpty) Map.empty
        else statsFromFooters(parts.toSeq,
          eligible.map { case (nm, tg, _) => (nm, tg) }, partitionCols)
          .getOrElse {
          statsFooterFallbacks.incrementAndGet()
          val aggs = count(lit(1)).as("__graft_rows") +:
            (eligible.zipWithIndex.flatMap { case ((n, _, cc), i) =>
              Seq(min(cc).as(s"__graft_min_$i"), max(cc).as(s"__graft_max_$i"),
                sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"__graft_nulls_$i"))
            } ++ partitionCols.zipWithIndex.map { case (c, i) =>
              // all rows of a file share one partition value (the
              // partitionBy stage guarantees it), so min IS the value;
              // NULL iff the file is the NULL partition. Canonical
              // rendering = CAST(value AS STRING) under the fixed UTC
              // session — what the pruning side re-casts back
              min(col(c)).cast("string").as(s"__graft_pv_$i")
            })
          df.sparkSession.read.parquet(stage.toString)
            .groupBy(input_file_name().as("__graft_file"))
            .agg(aggs.head, aggs.tail: _*)
            .collect().map { r =>
              def optS(c: String): Option[String] = {
                val idx = r.fieldIndex(c)
                if (r.isNullAt(idx)) None else Some(r.getString(idx))
              }
              val cols = eligible.zipWithIndex.map { case ((n, t, _), i) =>
                def opt(c: String): Option[Long] = {
                  val idx = r.fieldIndex(c)
                  if (r.isNullAt(idx)) None else Some(r.getLong(idx))
                }
                if (t == "s")
                  (n, ColStats(t, r.getAs[Long](s"__graft_nulls_$i"),
                    None, None,
                    optS(s"__graft_min_$i")
                      .map(takeCodePoints(_, MaxStringStatChars)),
                    optS(s"__graft_max_$i").flatMap(strMaxBound)))
                else
                  (n, ColStats(t, r.getAs[Long](s"__graft_nulls_$i"),
                    opt(s"__graft_min_$i"), opt(s"__graft_max_$i")))
              }.toMap
              val pvals = partitionCols.indices
                .map(i => optS(s"__graft_pv_$i"))
              (fileName(r.getAs[String]("__graft_file")),
                FileStats(r.getAs[Long]("__graft_rows"), cols,
                  parts = pvals))
            }.toMap
        }
      // capture physical sizes BEFORE the move (the stage is always a
      // local temp dir, so File.length is exact here) — recorded in the
      // version record (Delta's add-action `size`) so byte budgets and
      // compaction never stat the table filesystem again
      val sizes = parts.map(f => f.getName -> f.length()).toMap
      val names = parts.map { f =>
        val name = f.getName
        // plain move: these files are INVISIBLE until the version file
        // publishes, so per-file atomicity is not needed (and ATOMIC_MOVE
        // would fail across filesystems)
        java.nio.file.Files.move(f.toPath, new java.io.File(path, name).toPath)
        name
      }.toSeq
      // a ZERO-ROW part file produces no group in the agg — give it an
      // explicit all-None entry so stats cover EVERY committed file
      // (min/max None never prunes; the coverage invariant stays clean).
      // A zero-row file's partition tuple is vacuous: all-None keeps it
      // out of every partition match (0 rows — sound either way).
      val zeroRow = FileStats(0L,
        eligible.map { case (n, t, _) => n -> ColStats(t, 0L, None, None) }
          .toMap,
        parts = partitionCols.map(_ => None))
      // eligible.isEmpty means the stats agg never ran: rows are UNKNOWN,
      // so no FileStats may be fabricated (a rows=0 entry would lie to
      // history's rows_added) — such commits stay stat-less and size
      // consumers fall back to one FS stat per file
      val full =
        if (eligible.isEmpty) stats
        else names.map(n =>
          n -> stats.getOrElse(n, zeroRow).copy(bytes = Some(sizes(n)))).toMap
      (names, full)
    } finally graft.core.Fs.rmTree(stage.toFile)
  }

  /** Staged data-file names: plain `part-*` from an unpartitioned write,
    * or `p<dirIdx>-part-*` after [[flattenStage]] renamed a partitioned
    * stage's nested files into the root.
    */
  private val StagedDataFileRe = "^(?:p\\d+-)?part-.*".r

  /** Flatten a `partitionBy`-staged directory tree: move every nested
    * part file into the stage ROOT under a unique name
    * (`p<dirIdx>-<origName>` — part-file names are unique WITHIN a
    * partition directory but Spark reuses them ACROSS directories, so
    * the directory index is what restores global uniqueness). Directory
    * enumeration is sorted for deterministic naming.
    */
  private def flattenStage(stage: java.nio.file.Path): Unit = {
    def leafDirs(d: java.io.File): Seq[java.io.File] = {
      val subs = d.listFiles().filter(_.isDirectory)
      if (subs.isEmpty) Seq(d) else subs.sortBy(_.getName).flatMap(leafDirs).toSeq
    }
    val root = stage.toFile
    leafDirs(root).filterNot(_ == root).zipWithIndex.foreach {
      case (dir, i) =>
        dir.listFiles().filter(f =>
          f.isFile && f.getName.startsWith("part-")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(root, s"p$i-${f.getName}").toPath)
        }
    }
    // drop the now-empty partition directories so the flat read below
    // sees only data files
    root.listFiles().filter(_.isDirectory)
      .foreach(d => graft.core.Fs.rmTree(d))
  }

  /** Enforce the table's CHECK constraints over an incoming commit's rows
    * — ONE distributed agg (per-constraint violation counts in a single
    * pass), nothing launched when the table has no constraints. SQL CHECK
    * semantics: a row violates only when the expression is definitively
    * FALSE — UNKNOWN (NULL) passes, exactly the standard-SQL / Delta
    * invariant contract (`NOT NULL` is therefore spelled
    * `c IS NOT NULL`, which never evaluates to UNKNOWN). The incoming
    * frame is first aligned to the merged table schema (missing base
    * columns = typed NULL — what a read of the committed files would
    * serve), so a narrower-schema append is checked against what its rows
    * will MEAN in the table, not what the writer happened to include.
    */
  private def enforceConstraints(df: DataFrame, tableSchema: StructType,
      constraints: Map[String, String]): Unit = {
    if (constraints.isEmpty) return
    val present = df.columns.toSet
    val aligned = tableSchema.fields.filterNot(f => present.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val entries = constraints.toSeq.sortBy(_._1)
    val aggs = entries.zipWithIndex.map { case ((_, check), i) =>
      sum(when(coalesce(expr(check), lit(true)) === lit(false), 1L)
        .otherwise(0L)).as(s"__graft_viol_$i")
    }
    val row = aligned.agg(aggs.head, aggs.tail: _*).head()
    entries.zipWithIndex.foreach { case ((name, check), i) =>
      val n = if (row.isNullAt(i)) 0L else row.getLong(i) // empty input
      if (n > 0L) throw new ConstraintViolationException(name, check, n)
    }
  }

  /** Create the table at version 0. `alerts` (here and on every committer)
    * receives structured `txlog_checkpoint_failed` alerts when a commit
    * SUCCEEDS but its advisory checkpoint write fails — see [[publish]].
    *
    * `partitionBy` declares the table's PARTITION COLUMNS (Delta's
    * partitionColumns metadata) — immutable for the table's lifetime,
    * recorded in the log, and honored by EVERY subsequent data-writing
    * commit: files stay partition-aligned (all rows of a file share one
    * partition tuple, recorded per add action), which is what makes
    * [[deletePartitions]] / [[replaceWherePartitions]] metadata-only and
    * [[prunedFilesByPartition]] a zero-job prune. Supported types:
    * integral, DATE, TIMESTAMP_NTZ, STRING.
    */
  def init(df: DataFrame, path: String,
      alerts: Option[graft.runner.Alerts.Sink] = None,
      partitionBy: Seq[String] = Nil): Snapshot = {
    require(currentVersion(path).isEmpty, s"TxLog: table already exists at $path")
    require(partitionBy.distinct.size == partitionBy.size,
      s"TxLog.init: duplicate partition columns in " +
        s"(${partitionBy.mkString(", ")})")
    new java.io.File(path).mkdirs()
    val (files, stats) = writeDataFiles(df, path, partitionBy)
    publish(path, EmptySnapshot, Snapshot(0L, files, df.schema,
        stats = stats, partitionCols = partitionBy),
      add = files, remove = Nil,
      info = ("INIT",
        if (partitionBy.isEmpty) Map.empty[String, String]
        else Map("partitionBy" -> partitionBy.mkString(","))),
      alerts = alerts)
  }

  /** Append rows: an add-only action record (O(new files) metadata) on top
    * of carried-over references. `expectedVersion` is the
    * optimistic-concurrency token: pass the version you READ; if someone
    * committed since, the commit RECONCILES instead of failing when the
    * interleaved commits are logically compatible (see [[appendResolved]]
    * — append vs append never conflicts, the Delta conflict-checker
    * shape), and raises [[ConflictException]] only on real logical
    * conflicts.
    */
  def append(df: DataFrame, path: String, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val schema = mergeSchemas(base.schema, df.schema)
    enforceConstraints(df, schema, base.constraints)
    val (cmap, cmapChanged) =
      extendColumnMap(base.columnMap, base.physTombstones, schema)
    val (added, addStats) = writeDataFiles(df, path, base.partitionCols, cmap)
    appendResolved(path, base, added, addStats, df.schema, txn = None,
      info = ("APPEND", Map.empty), cmap = cmap,
      cmapChanged = cmapChanged, alerts = alerts)
  }

  /** Conflicts an append RECONCILES without re-execution (test seam:
    * proves the no-re-run path actually ran).
    */
  private[graft] val reconciledCommits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Upper bound on reconcile attempts per commit — each is metadata-only
    * (no re-staging), so the bound exists only to turn pathological
    * sustained contention into the named conflict error instead of an
    * unbounded loop.
    */
  private val MaxReconciles = 50

  /** Publish an already-STAGED append on top of `base0`, reconciling
    * optimistic-concurrency losses logically instead of re-executing
    * (Delta's conflict-checker discipline — verdict round-13 item 4):
    * an append's staged files are fresh names no interleaved commit can
    * reference, so losing the version race costs a METADATA re-publish
    * at the new head, not a re-run of the write — IF every interleaved
    * commit is logically compatible:
    *
    *  - no constraint change (our rows were validated against the OLD
    *    set; a concurrent ADD CONSTRAINT must re-validate — re-run);
    *  - the table schema still accepts our written schema
    *    ([[mergeSchemas]] re-runs against the new base and fails loudly
    *    if a concurrent widen made ours a narrow re-declare).
    *
    * Interleaved removes/DV-commits/overwrites/restores never conflict
    * with an append (WriteSerializable: the append lands after them).
    * For idempotent appends (`txn`), the watermark re-checks against
    * every new base — a concurrent writer that applied the same batch
    * turns this commit into a no-op (the staged files become invisible
    * orphans, vacuum food), never a double apply.
    */
  private def appendResolved(path: String, base0: Snapshot,
      added: Seq[String], addStats: Map[String, FileStats],
      writtenSchema: StructType, txn: Option[(String, Long)],
      info: (String, Map[String, String]),
      cmap: Map[String, String], cmapChanged: Boolean,
      alerts: Option[graft.runner.Alerts.Sink]): Snapshot = {
    var base = base0
    var reconciles = 0
    while (true) {
      txn.foreach { case (app, b) =>
        if (base.txns.get(app).exists(b <= _)) return base
      }
      try {
        return publish(path, base, base.copy(version = base.version + 1,
            files = base.files ++ added,
            schema = mergeSchemas(base.schema, writtenSchema),
            txns = base.txns ++ txn, stats = base.stats ++ addStats,
            columnMap = cmap),
          add = added, remove = Nil, info = info, txn = txn,
          colMap = if (cmapChanged) Some(cmap) else None, alerts = alerts)
      } catch {
        case e: ConflictException =>
          reconciles += 1
          if (reconciles > MaxReconciles) throw e
          val cur = currentVersion(path).getOrElse(throw e)
          val compatible = (base.version + 1 to cur).forall { w =>
            val r = parseRecord(path, w)
            r.constraints.isEmpty &&
              // a concurrent rename/drop changes what our staged files'
              // physical names MEAN — real conflict, re-run
              r.colMap.isEmpty && r.colDrop.isEmpty
          }
          if (!compatible) throw e
          base = resolve(path, cur)
          reconciledCommits.incrementAndGet()
          alerts.foreach(_.send(graft.runner.Alerts.Alert(
            "txlog_conflict_reconciled", path, "commit",
            s"append lost the version race; re-publishing the staged " +
              s"files at version ${cur + 1} without re-execution " +
              s"(reconcile $reconciles)")))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** OVERWRITE the table's contents atomically: one commit removing every
    * current file and adding the new data — `SaveMode.Overwrite` through
    * the batch format, INSERT OVERWRITE semantics. Constraints gate the
    * new rows; deletion vectors clear with the files they covered; txn
    * watermarks survive (an overwrite does not un-apply a streaming
    * writer's batches). The recorded schema still merges widen-only —
    * an overwrite that NARROWS a column errors like any commit (Delta
    * requires `overwriteSchema` for that; here it stays refused), though
    * brand-new columns and type widenings record normally.
    */
  def overwrite(df: DataFrame, path: String, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val schema = mergeSchemas(base.schema, df.schema)
    enforceConstraints(df, schema, base.constraints)
    val (cmap, cmapChanged) =
      extendColumnMap(base.columnMap, base.physTombstones, schema)
    val (added, addStats) = writeDataFiles(df, path, base.partitionCols, cmap)
    publish(path, base, base.copy(version = expectedVersion + 1,
        files = added, schema = schema, stats = addStats, dvs = Map.empty,
        columnMap = cmap),
      add = added, remove = base.files.sorted,
      info = ("OVERWRITE", Map.empty),
      colMap = if (cmapChanged) Some(cmap) else None, alerts = alerts)
  }

  /** The FIRST version whose clamped commit timestamp is at or after
    * `tsMillis` — the `startingTimestamp` resolution for streaming
    * sources ("stream everything committed from this instant on"; the
    * dual of [[versionAtTimestamp]]'s newest-at-or-before, which serves
    * batch reads). A timestamp at or before the earliest retained commit
    * floors at that commit; one after the latest raises (nothing to
    * stream from there yet — Delta refuses the same way rather than
    * silently starting at an arbitrary point).
    */
  def firstVersionAtOrAfter(path: String, tsMillis: Long): Long = {
    val ts = clampedCommitTimestamps(path)
    require(tsMillis <= ts.last._2,
      s"TxLog: timestamp $tsMillis is after the latest commit " +
        s"(${ts.last._2} at version ${ts.last._1}) - nothing is " +
        "committed at or after it")
    ts.find(_._2 >= tsMillis).get._1
  }

  /** IDEMPOTENT append — the exactly-once seam for streaming
    * `foreachBatch` sinks (the Delta protocol's txn-action pattern):
    * commit `df` tagged with writer identity `(appId, batchId)`. If the
    * snapshot at `expectedVersion` already records a txn for `appId` with
    * a batchId AT OR ABOVE this one, the call is a NO-OP returning that
    * snapshot unchanged — the redelivery a foreachBatch retry produces
    * after a sink-side success commits nothing twice. batchIds must be
    * monotone per appId (Structured Streaming's batchId contract); the
    * recorded watermark is the newest applied batchId and rides in every
    * snapshot, survives checkpoint+tail resolution, AND survives vacuum
    * (the vacuum-time checkpoint persists the accumulated map before the
    * action history drops — losing it would silently re-apply old
    * batches). Wrap in [[commitWithRetry]] for concurrent writers: the
    * skip check re-runs against the fresh snapshot on every retry, so a
    * conflicting writer can never resurrect an already-applied batch.
    */
  def appendIfNew(df: DataFrame, path: String, appId: String, batchId: Long,
      expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    // an empty appId names no writer: refuse it BEFORE anything publishes
    require(appId.nonEmpty, "TxLog.appendIfNew: appId must be non-empty")
    val base = snapshot(path, Some(expectedVersion))
    base.txns.get(appId) match {
      case Some(last) if batchId <= last => base // already applied: no-op
      case _ =>
        val schema = mergeSchemas(base.schema, df.schema)
        enforceConstraints(df, schema, base.constraints)
        val (cmap, cmapChanged) =
          extendColumnMap(base.columnMap, base.physTombstones, schema)
        val (added, addStats) =
          writeDataFiles(df, path, base.partitionCols, cmap)
        appendResolved(path, base, added, addStats, df.schema,
          txn = Some((appId, batchId)),
          info = ("STREAMING_APPEND",
            Map("appId" -> appId, "batchId" -> batchId.toString)),
          cmap = cmap, cmapChanged = cmapChanged, alerts = alerts)
    }
  }

  /** ADD a named CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * invariant shape): from the commit on, EVERY row-adding commit
    * ([[append]], [[appendIfNew]], [[replaceWhereKeys]]' new data) is
    * validated against the table's constraints in one distributed pass
    * and refused with a named [[ConstraintViolationException]] — nothing
    * publishes — when any row makes a CHECK definitively FALSE (UNKNOWN
    * passes, standard SQL; spell NOT NULL as `c IS NOT NULL`). EXISTING
    * rows must already satisfy the new constraint (one scan here, the
    * same contract as Delta's ADD CONSTRAINT). The constraint map rides
    * in the version record and every checkpoint, so enforcement
    * survives vacuum dropping the declaring version; time travel below
    * the declaration reads fine (constraints gate writes, not reads).
    * The declaration is itself a committed version: concurrency-safe
    * under [[commitWithRetry]] like any commit.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
      check: String, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    require(name.nonEmpty, "TxLog.addConstraint: name must be non-empty")
    val base = snapshot(path, Some(expectedVersion))
    require(!base.constraints.contains(name),
      s"TxLog: constraint '$name' already exists - drop it first " +
        "(silent redefinition could relax a guarantee readers rely on)")
    val schema = base.schema
    // the expression must RESOLVE against the table schema and be BOOLEAN
    // — probed on an empty frame so failures are loud at declaration
    // time, not at some later writer's append
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .select(expr(check))
    require(
      probe.schema.head.dataType == org.apache.spark.sql.types.BooleanType,
      s"TxLog: constraint '$name' CHECK ($check) has type " +
        s"${probe.schema.head.dataType.simpleString}, not boolean")
    enforceConstraints(read(spark, path, Some(expectedVersion)), schema,
      Map(name -> check))
    val cons = base.constraints + (name -> check)
    publish(path, base,
      base.copy(version = expectedVersion + 1, constraints = cons),
      add = Nil, remove = Nil,
      info = ("ADD_CONSTRAINT", Map("name" -> name, "check" -> check)),
      constraints = Some(cons), alerts = alerts)
  }

  /** Drop a named constraint — a metadata-only commit; later commits stop
    * enforcing it. Dropping an unknown name raises (a typo'd drop that
    * silently "succeeds" would leave the caller believing enforcement
    * ended when it did not).
    */
  def dropConstraint(path: String, name: String, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    require(base.constraints.contains(name),
      s"TxLog: no constraint named '$name' to drop (have: " +
        s"${base.constraints.keys.toSeq.sorted.mkString(", ")})")
    val cons = base.constraints - name
    publish(path, base,
      base.copy(version = expectedVersion + 1, constraints = cons),
      add = Nil, remove = Nil,
      info = ("DROP_CONSTRAINT", Map("name" -> name)),
      constraints = Some(cons), alerts = alerts)
  }

  /** OPTIMIZE: rewrite the files at or below `maxFileBytes` into
    * `targetFiles` large files — ONE commit that changes no rows
    * (add = compacted, remove = the smalls), the standard lakehouse
    * small-file maintenance (Delta OPTIMIZE / Iceberg rewriteDataFiles).
    * `sortCols` optionally sort-clusters the rewritten rows (pass a
    * [[ZOrder]] key for multi-dimension clustering) so compaction
    * doubles as layout maintenance for the stats/skip index. Files
    * above the threshold carry over BY REFERENCE — compaction cost is
    * O(small bytes), never O(table). Readers see the old layout until
    * the commit publishes (atomic like every commit), time travel below
    * it still serves the pre-compaction files, and the change feed
    * emits the rewrite as delete+reinsert of identical rows
    * (multiset-net-zero, same as Delta's CDF for OPTIMIZE). Skipped
    * entirely (current snapshot returned) when fewer than two small
    * files exist — a no-op commit would churn history.
    */
  def compact(spark: SparkSession, path: String, expectedVersion: Long,
      maxFileBytes: Long = 32L * 1024 * 1024, targetFiles: Int = 1,
      sortCols: Seq[String] = Nil,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    require(targetFiles >= 1, "TxLog.compact: targetFiles must be >= 1")
    val base = snapshot(path, Some(expectedVersion))
    // small-file selection from LOG-RECORDED sizes (zero FS stats on
    // files with stats; a file of a table with no stats-eligible column
    // pays one Hadoop-FS stat)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val small = base.files.filter(f =>
      fileBytes(path, f, base.stats, hadoopConf) <= maxFileBytes)
    if (small.size < 2) return base
    // DV-aware materialization: a vectored small file compacts to its
    // LIVE rows and sheds its vector (compaction doubles as local purge)
    val rows0 = readFilesWithDvs(spark, path, small, base)
    val rows =
      if (sortCols.isEmpty) rows0.coalesce(targetFiles)
      else rows0.repartitionByRange(targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    // no enforcement: compaction moves existing (already-validated) rows.
    // On a partitioned table the staged partitionBy re-splits the
    // compacted rows partition-pure, so `targetFiles` becomes a
    // PER-PARTITION target — compaction never merges across partitions.
    val (added, addStats) =
      writeDataFiles(rows, path, base.partitionCols, base.columnMap)
    val smallSet = small.toSet
    publish(path, base, base.copy(version = expectedVersion + 1,
        files = base.files.filterNot(smallSet.contains) ++ added,
        stats = base.stats.filterNot { case (f, _) => smallSet.contains(f) } ++
          addStats,
        dvs = base.dvs.filterNot { case (f, _) => smallSet.contains(f) }),
      add = added, remove = small.sorted,
      info = ("OPTIMIZE", Map(
        "targetFiles" -> targetFiles.toString,
        "maxFileBytes" -> maxFileBytes.toString,
        "sortCols" -> sortCols.mkString(","))),
      alerts = alerts)
  }

  /** RESTORE the table to the state it had at `toVersion` (the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` shape) — as a NEW commit, never
    * by rewriting history: the restored version's file set, recorded
    * schema, and constraint set become the table's current state through
    * one atomic action record (add = files the restore brings back,
    * remove = current files the target lacks), so the restore itself is
    * time-travelable and shows in [[history]] as a RESTORE operation.
    *
    * Restore is the ONE sanctioned schema rollback: the recorded schema
    * reverts to the target version's even when that narrows — the served
    * files ARE the target version's files, so the record must match them
    * (the widen-only [[mergeSchemas]] guard protects appends, where
    * narrow metadata would misdescribe wide files; here both roll back
    * together). Constraints revert with the data: the restored rows were
    * validated against the TARGET version's constraint set, which is the
    * set that must resume gating writes. Txn watermarks are deliberately
    * NOT restored — rolling a per-app batch watermark backwards would let
    * an exactly-once writer re-apply batches it already committed, the
    * exact double-write the watermark exists to prevent (Delta keeps txn
    * actions through RESTORE for the same reason).
    *
    * Requires every target-version file to still exist physically — a
    * below-horizon `toVersion` already fails in [[snapshot]], and a
    * retained version's files are vacuum-protected, so a missing file
    * here means external deletion; named error, nothing publishes.
    */
  def restore(path: String, toVersion: Long, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    require(toVersion <= expectedVersion,
      s"TxLog.restore: target version $toVersion is above the current " +
        s"$expectedVersion - restore rolls BACK")
    val base = snapshot(path, Some(expectedVersion))
    val target = snapshot(path, Some(toVersion))
    val missing = (target.files ++ target.dvs.values.toSeq.distinct)
      .filterNot(f => new java.io.File(path, f).isFile)
    require(missing.isEmpty,
      s"TxLog.restore: version $toVersion references files that no " +
        s"longer exist (${missing.take(3).mkString(", ")}${
          if (missing.size > 3) ", ..." else ""}) - restored versions " +
        "must be within vacuum retention and externally untouched")
    val curSet = base.files.toSet
    val tgtSet = target.files.toSet
    val add = target.files.filterNot(curSet.contains)
    // deletion-vector state restores with the data: SET every target
    // entry that differs from the file's current state (re-added files'
    // entries were dropped when they left; a later vector on a staying
    // file rolls back), and CLEAR vectors the target did not have —
    // clearing RESURRECTS rows, which is exactly what restoring past a
    // soft delete means
    val dvSets: Map[String, Option[String]] = target.dvs.collect {
      case (f, dv) if !curSet.contains(f) || !base.dvs.get(f).contains(dv) =>
        f -> (Some(dv): Option[String])
    }
    val dvClears: Map[String, Option[String]] = base.dvs.collect {
      case (f, _) if tgtSet.contains(f) && !target.dvs.contains(f) =>
        f -> (None: Option[String])
    }
    // txn watermarks stay (see above); partition columns are immutable
    publish(path, base, target.copy(version = expectedVersion + 1,
        txns = base.txns),
      add = add, remove = base.files.filterNot(tgtSet.contains).sorted,
      info = ("RESTORE", Map("restoredVersion" -> toVersion.toString)),
      constraints = Some(target.constraints), dvs = dvSets ++ dvClears,
      // column mapping rolls back WITH the data: the restored files'
      // physical names mean what the target version said they meant
      colMap = Some(target.columnMap), colDrop = Some(target.physTombstones),
      alerts = alerts)
  }

  /** VACUUM: physically delete (a) version files older than the newest
    * `retainVersions`, (b) data files referenced by NO retained version
    * — both orphans from losing/crashed writers and files superseded by
    * delete/replace rewrites — (c) checkpoint files below the retained
    * range, and (d) abandoned staging `.tmp` files in the log dir. Time
    * travel below the retention horizon becomes an error (the lakehouse
    * trade every format makes). BEFORE dropping anything, atomically
    * writes a full checkpoint at the OLDEST retained version — the
    * replacement for the action history being deleted; retained versions
    * replay from it. Refreshes the `_last_checkpoint` hint to the newest
    * retained version. Returns the deleted file names.
    *
    * Single-writer window contract, like every VACUUM: a reader holding a
    * below-horizon snapshot open races the delete — retain generously on
    * shared storage.
    *
    * Clock-skew caveat: the `minAgeMs` horizon compares this process's
    * wall clock against `lastModified` stamps written by OTHER writers'
    * clocks (Delta's deletedFileRetentionDuration has the same exposure).
    * On shared storage with skewed clocks a fast-forward vacuum clock can
    * under-protect an in-flight writer's files — size the horizon to
    * dominate worst-case skew + write duration, not just write duration.
    */
  def vacuum(path: String, retainVersions: Int = 2,
      minAgeMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false,
      readerFloor: Option[Long] = None,
      alerts: Option[graft.runner.Alerts.Sink] = None): Seq[String] = {
    require(retainVersions >= 1, "TxLog.vacuum: must retain >= 1 version")
    val all = listVersionNumbers(path)
    require(all.nonEmpty, s"TxLog: no table at $path")
    val kept = all.takeRight(retainVersions)
    val dropping = all.dropRight(retainVersions)
    // STREAMING-LAG GUARD: a lagging TxLog source's next batch needs the
    // files of every version it has not yet committed — `readerFloor` is
    // that consumer's oldest still-needed version (its last committed
    // end offset + 1, `TxLogSource.committedReaderFloor`, or a
    // startingVersion). Vacuuming versions AT OR ABOVE the
    // floor breaks the consumer's replay window (the documented
    // vacuum↔source coupling); fire the structured alert BEFORE anything
    // drops so operators see it while the read still works. The vacuum
    // itself proceeds — retention policy is the caller's call; the alert
    // is the visibility the coupling was missing.
    readerFloor.foreach { floor =>
      val breaking = dropping.filter(_ >= floor)
      if (breaking.nonEmpty) alerts match {
        case Some(sink) => sink.send(graft.runner.Alerts.Alert(
          "txlog_vacuum_breaks_reader", path, "vacuum",
          s"vacuum is dropping ${breaking.size} version(s) at or above " +
            s"the reader floor $floor (${breaking.min}..${breaking.max}) - " +
            "a streaming consumer lagging behind the floor will fail its " +
            "next batch; raise retainVersions or advance the consumer"))
        case None => System.err.println(
          s"[txlog] vacuum at $path drops versions >= reader floor $floor")
      }
    }
    val snaps = kept.map(v => snapshot(path, Some(v)))
    val referenced = snaps.flatMap(_.files).toSet
    if (dryRun) {
      // report-only: what a real run WOULD reap, with the same age guard
      // — nothing written (not even the checkpoint), nothing deleted
      val horizon = System.currentTimeMillis() - minAgeMs
      val referencedDvs = snaps.flatMap(_.dvs.values).toSet
      val wouldData = Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-") &&
          !referenced.contains(f.getName) && f.lastModified() < horizon)
        .map(_.getName)
      val wouldDvs = Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("dv-") &&
          !referencedDvs.contains(f.getName) && f.lastModified() < horizon)
        .map(_.getName)
      val wouldTmp = Option(logDir(path).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".tmp") &&
          f.lastModified() < horizon)
        .map(_.getName)
      return (dropping.map(v => versionFile(path, v).getName) ++
        listCheckpointVersions(path).filter(_ < kept.min)
          .map(v => checkpointParquetVersionFile(path, v).getName) ++
        wouldData ++ wouldDvs ++ wouldTmp).toSeq
    }
    // reconstruction base for the oldest retained version, written
    // atomically BEFORE its history is dropped — this checkpoint is
    // load-bearing (unlike commit-time ones)
    val oldest = snaps.head
    writeCheckpointParquet(path, oldest)
    val droppedVersions = dropping.map { v =>
      val f = versionFile(path, v)
      java.nio.file.Files.delete(f.toPath)
      f.getName
    }
    val droppedCkpts = listCheckpointVersions(path).filter(_ < kept.min)
      .map { v =>
        val f = checkpointParquetVersionFile(path, v)
        java.nio.file.Files.delete(f.toPath)
        f.getName
      }
    // minAgeMs guards the WRITER race (not just readers): an in-flight
    // commit's freshly-moved data files are referenced by NO version yet —
    // deleting them would let the commit publish a version pointing at
    // nothing. Only files older than the threshold can be proven
    // abandoned (Delta's deletedFileRetentionDuration, same reasoning);
    // pass 0 only when no writer can be in flight.
    val horizon = System.currentTimeMillis() - minAgeMs
    val droppedData = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-") &&
        !referenced.contains(f.getName) && f.lastModified() < horizon)
      .map { f => java.nio.file.Files.delete(f.toPath); f.getName }
    // deletion-vector sidecars referenced by NO retained snapshot
    // (superseded by a merge/purge/rewrite) — same age guard as data
    val referencedDvs = snaps.flatMap(_.dvs.values).toSet
    val droppedDvs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("dv-") &&
        !referencedDvs.contains(f.getName) && f.lastModified() < horizon)
      .map { f => java.nio.file.Files.delete(f.toPath); f.getName }
    // abandoned publish stages (writer crashed between stage and link)
    val droppedTmp = Option(logDir(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".tmp") &&
        f.lastModified() < horizon)
      .map { f => java.nio.file.Files.delete(f.toPath); f.getName }
    writeCheckpointHint(path, kept.max)
    (droppedVersions ++ droppedCkpts ++ droppedData ++ droppedDvs ++
      droppedTmp).toSeq
  }

  /** Basename of an `input_file_name()` URI. */
  private def fileName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  // --- log-native file sizes -------------------------------------------------

  /** Count of FS-stat fallbacks taken by [[fileBytes]] — test seam: a
    * fresh table's byte walks must be pure log metadata (count stays 0);
    * only files without a FileStats entry (a table with no
    * stats-eligible column commits stat-less records) pay a stat.
    */
  private[graft] val sizeFallbackStats =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Physical size of data file `name` under `path`: the log-recorded
    * add-action size when `stats` carries it (zero filesystem calls),
    * else ONE Hadoop-FS stat (correct on any filesystem — never
    * `java.io.File.length()`, which returns 0 silently off local FS).
    */
  private[graft] def fileBytes(path: String, name: String,
      stats: Map[String, FileStats],
      hadoopConf: org.apache.hadoop.conf.Configuration): Long =
    stats.get(name).flatMap(_.bytes).getOrElse {
      sizeFallbackStats.incrementAndGet()
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(path), name)
      p.getFileSystem(hadoopConf).getFileStatus(p).getLen
    }

  /** Version `v`'s ADDED bytes — what an append-source batch covering it
    * physically reads. Log metadata only on post-size records (the add
    * stats ride in the version record itself).
    */
  private[graft] def versionAddBytes(path: String, v: Long,
      hadoopConf: org.apache.hadoop.conf.Configuration): Long = {
    val rec = parseRecord(path, v)
    rec.add.map(f => fileBytes(path, f, rec.stats, hadoopConf)).sum
  }

  /** Version `v`'s ADDED + REMOVED bytes — what a CDF batch covering it
    * physically reads (both sides). Removed files' sizes come from the
    * PRE-version snapshot's accumulated stats map (checkpoints carry it,
    * so the size survives the adding version being vacuumed).
    */
  private[graft] def versionChangeBytes(path: String, v: Long,
      hadoopConf: org.apache.hadoop.conf.Configuration): Long = {
    val rec = parseRecord(path, v)
    val addB = rec.add.map(f => fileBytes(path, f, rec.stats, hadoopConf)).sum
    val remB =
      if (rec.remove.isEmpty) 0L
      else {
        val before = resolve(path, v - 1).stats
        rec.remove.map(f => fileBytes(path, f, before, hadoopConf)).sum
      }
    addB + remB
  }

  /** The names of `base`'s files containing at least one row surviving
    * `probe` — ONE distributed job over all files at once
    * (`_metadata.file_name` distinct), never a per-file driver loop: at
    * 10⁵–10⁶ files sequential job-launch latency alone would make every
    * DELETE/MERGE commit minutes-to-hours regardless of data volume. The
    * file index prunes the probe's scan with the log's stats.
    */
  private def touchedFileNames(spark: SparkSession, path: String,
      probe: DataFrame => DataFrame, base: Snapshot): Set[String] =
    if (base.files.isEmpty) Set.empty
    else {
      // DV-aware: rows a deletion vector already killed must not mark a
      // file touched (and must not re-enter the survivor rewrite). The
      // file tag is the scan-bound `_metadata.file_name` column, NOT
      // input_file_name() — the thread-local function refuses plans with
      // two file sources, which the DV anti-join introduces.
      probe(liveRowsMeta(spark, path, base)).select(col(MetaFileCol))
        .distinct().collect().map(_.getString(0)).toSet
    }

  /** The snapshot's files that CAN contain a row with canonical(`c`) ∈
    * [lo, hi] — log-native data skipping (Delta stats-pruning shape):
    * pure metadata, zero jobs, and transactionally consistent with the
    * version being read (stats ride in the same commit as their add
    * actions, so they are correct at any time-travel version, never
    * stale after a delete/replace/compact).
    * Bounds are CANONICAL units ([[ColStats]]: integral as-is, DATE epoch
    * days, TIMESTAMP_NTZ epoch micros). Returns (kept, total) so callers
    * can observe pruning effectiveness.
    */
  def statsPrunedFilesCanonical(path: String, c: String, lo: Long, hi: Long,
      asOf: Option[Long] = None): (Seq[String], Int) =
    statsPrunedFiles(snapshot(path, asOf), c, lo, hi)

  private def statsPrunedFiles(snap: Snapshot, c: String, lo: Long,
      hi: Long): (Seq[String], Int) = {
    // per-file stats are keyed by the PHYSICAL column name (what the
    // files store); callers speak logical
    val pc = snap.columnMap.getOrElse(c, c)
    val (l, h) = (Some(StatsPruning.BvLong(lo)), Some(StatsPruning.BvLong(hi)))
    val kept = snap.files.filterNot { f =>
      snap.stats.get(f).flatMap(_.cols.get(pc))
        .exists(cs => StatsPruning.disjoint(cs.bounds, l, h))
    }
    (kept, snap.files.size)
  }

  /** Read only the files that can contain canonical(`c`) ∈ [lo, hi] — the
    * caller still applies the row-level predicate (stats prune I/O, never
    * semantics). An all-pruned selection serves a schema-correct empty
    * frame.
    */
  def readPruned(spark: SparkSession, path: String, c: String, lo: Long,
      hi: Long, asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(path, asOf)
    val (kept, _) = statsPrunedFiles(snap, c, lo, hi)
    if (kept.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
    else alignToRecordedSchema(
      readFilesWithDvs(spark, path, kept, snap), snap)
  }

  /** [lo, hi] of integral column `c` over the (batch-scale) `keys` frame,
    * for stats pre-pruning; None when the type is non-integral or the
    * batch has no non-null keys.
    */
  private def integralBounds(keys: DataFrame, c: String): Option[(Long, Long)] = {
    import org.apache.spark.sql.types._
    keys.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val r = keys.agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
        if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
      case _ => None
    }
  }

  /** ATOMIC replace-by-key: remove every row whose `nk` appears in `keys`
    * AND add `newData`, as ONE committed version — the commit shape a
    * transactional `MERGE INTO` needs (delete-then-append as two versions
    * would expose an intermediate state with the touched keys missing).
    * Only files containing touched keys are rewritten; discovery is one
    * distributed semi-join probe over the snapshot's files. When the log
    * carries stats, the probe also filters the first key column to the
    * batch's integral [lo, hi] (one small agg job), which the file index
    * turns into file pruning — sound, since a NULL or out-of-range key
    * cannot equi-match.
    */
  def replaceWhereKeys(spark: SparkSession, path: String, keys: DataFrame,
      nk: Seq[String], newData: DataFrame, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val k = keys.select(nk.map(col): _*)
    val keyRange =
      if (base.stats.isEmpty) None else integralBounds(k, nk.head)
    val touched = touchedFileNames(spark, path, t =>
      keyRange.fold(t) { case (lo, hi) => t.filter(col(nk.head).between(lo, hi)) }
        .join(k, nk, "left_semi"), base)
    val untouched = base.files.filterNot(touched.contains)
    val schema = mergeSchemas(base.schema, newData.schema)
    enforceConstraints(newData, schema, base.constraints)
    val (cmap, cmapChanged) =
      extendColumnMap(base.columnMap, base.physTombstones, schema)
    val (rewritten, rewrittenStats) =
      if (touched.isEmpty) (Nil, Map.empty[String, FileStats])
      else {
        val survivors =
          readFilesWithDvs(spark, path, touched.toSeq, base)
            .join(k, nk, "left_anti")
        if (survivors.isEmpty) (Nil, Map.empty[String, FileStats])
        else writeDataFiles(survivors, path, base.partitionCols, cmap)
      }
    val (added, addedStats) =
      writeDataFiles(newData, path, base.partitionCols, cmap)
    publish(path, base, base.copy(version = expectedVersion + 1,
        files = untouched ++ rewritten ++ added, schema = schema,
        stats = base.stats.filterNot { case (f, _) => touched.contains(f) } ++
          rewrittenStats ++ addedStats,
        dvs = base.dvs.filterNot { case (f, _) => touched.contains(f) },
        columnMap = cmap),
      add = rewritten ++ added, remove = touched.toSeq.sorted,
      info = ("MERGE", Map("keys" -> nk.mkString(","))),
      colMap = if (cmapChanged) Some(cmap) else None, alerts = alerts)
  }

  /** Delete matching rows: only files CONTAINING matches are rewritten
    * (survivor rows re-written as new files); clean files carry over by
    * reference — the commit records remove = touched, add = rewritten
    * (O(touched) metadata). Discovery is one distributed job, whose
    * `cond` the file index prunes with the log's stats like any read.
    */
  def deleteWhere(spark: SparkSession, path: String,
      cond: Column, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val touched = touchedFileNames(spark, path, _.filter(cond), base)
    val untouched = base.files.filterNot(touched.contains)
    val (rewritten, rewrittenStats) =
      if (touched.isEmpty) (Nil, Map.empty[String, FileStats])
      else {
        // SQL DELETE semantics: a NULL-valued predicate deletes NOTHING —
        // plain !cond would be NULL too and silently DROP those rows from
        // the rewritten files (while identical rows in untouched files
        // survived); coalesce makes survival explicit. DV-aware read:
        // soft-deleted rows must not resurrect into the rewrite.
        val survivors =
          readFilesWithDvs(spark, path, touched.toSeq, base)
            .filter(!coalesce(cond, lit(false)))
        if (survivors.isEmpty) (Nil, Map.empty[String, FileStats])
        else writeDataFiles(survivors, path, base.partitionCols,
          base.columnMap)
      }
    // no enforcement: survivors are existing rows that already passed
    publish(path, base, base.copy(version = expectedVersion + 1,
        files = untouched ++ rewritten,
        stats = base.stats.filterNot { case (f, _) => touched.contains(f) } ++
          rewrittenStats,
        dvs = base.dvs.filterNot { case (f, _) => touched.contains(f) }),
      add = rewritten, remove = touched.toSeq.sorted,
      info = ("DELETE", Map("predicate" -> cond.toString)), alerts = alerts)
  }

  // --- deletion vectors (soft deletes) --------------------------------------

  /** Soft DELETE by DELETION VECTOR (the Delta DV shape): instead of
    * rewriting every touched file ([[deleteWhere]]'s O(touched bytes)),
    * record the matching rows' (file, row_index) pairs in ONE sidecar
    * parquet and commit a metadata-only version mapping each touched data
    * file to it — write cost O(deleted rows), zero data-file churn, and
    * the row-ids come from the same `_metadata.row_index` every reader
    * keys on. A second DV delete on an already-vectored file MERGES (the
    * new DV file carries the union; the entry replaces — per-file
    * replacement, exactly Delta's semantics), so vectors compose.
    *
    * Every read path applies active DVs ([[readFilesWithDvs]]): plain
    * reads, time travel (DV state is versioned like everything else),
    * pruned reads, the change feed (a DV commit emits exactly its
    * newly-dead rows as deletes), and the writers' own probe/survivor
    * reads. Trade-offs, matching Delta's: per-file stats become UPPER
    * bounds (pruning stays sound — deletes only shrink), the read adds a
    * broadcast anti-join until [[purgeDeletes]] or a rewriting commit
    * materializes, and the file index prunes the data side of the
    * anti-join only when pushdown carries the filter below it (sound —
    * it only drops rows the filter would drop). Predicate NULL semantics
    * match SQL DELETE: NULL never deletes.
    */
  def deleteWhereDV(spark: SparkSession, path: String,
      cond: Column, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val hits =
      if (base.files.isEmpty) None
      else Some(liveRowsMeta(spark, path, base).filter(coalesce(cond, lit(false)))
        .select(col(MetaFileCol).as("file"), col(MetaRiCol).as("row_idx"))
        .persist())
    try {
      val touched = hits.map(_.select("file").distinct()
        .collect().map(_.getString(0)).toSeq.sorted).getOrElse(Nil)
      if (touched.isEmpty) {
        // nothing matched: still a committed (empty) version, same
        // always-commit contract as deleteWhere
        publish(path, base, base.copy(version = expectedVersion + 1),
          add = Nil, remove = Nil,
          info = ("DELETE_DV", Map("predicate" -> cond.toString)),
          alerts = alerts)
      } else {
        // per-file REPLACEMENT: the new DV file carries old ∪ new rows
        // for every touched file (old rows of untouched files stay in
        // their existing vectors)
        val carryOver = base.dvs.filter { case (f, _) =>
          touched.contains(f) }
        val merged =
          if (carryOver.isEmpty) hits.get
          else hits.get.unionAll(
            dvRowsDf(spark, path, carryOver)
              .select(col(DvFileCol).as("file"), col(DvRiCol).as("row_idx")))
        val dvName = writeDvFile(merged, path)
        val entries: Map[String, Option[String]] =
          touched.map(f => f -> (Some(dvName): Option[String])).toMap
        val snap = publish(path, base, base.copy(
            version = expectedVersion + 1,
            dvs = base.dvs ++ touched.map(_ -> dvName)),
          add = Nil, remove = Nil,
          info = ("DELETE_DV", Map("predicate" -> cond.toString)),
          dvs = entries, alerts = alerts)
        alertDvCardinality(spark, path, snap, alerts)
        snap
      }
    } finally { hits.foreach { h => h.unpersist(); () } }
  }

  /** Active-DV row-count threshold for the `txlog_dv_cardinality` alert
    * (an AtomicLong so specs can lower it; production default 2^20 rows —
    * deliberately 8× ABOVE the 2^17 [[dvBitmapMinRows]] plan-flip
    * threshold: reads go bitmap well before the alert asks for a purge).
    * INFORMATIONAL since bitmaps
    * landed: reads no longer degrade past the threshold (they change
    * plan shape instead of broadcasting the row set), so the alert is a
    * housekeeping nudge — vectors still cost a sidecar load per executor
    * and upper-bound the per-file stats until [[purgeDeletes]]/
    * [[compact]] sheds them.
    */
  private[graft] val dvCardinalityAlertRows =
    new java.util.concurrent.atomic.AtomicLong(1L << 20)

  /** Fire the informational `txlog_dv_cardinality` when the table's
    * active deleted-row upper bound ([[activeDvRowCount]] — cached
    * sidecar FOOTER counts, zero Spark jobs) exceeds the threshold. Runs
    * only when a sink is armed, and costs O(#active sidecars) cached
    * metadata reads either way — never a distributed count.
    */
  private def alertDvCardinality(spark: SparkSession, path: String,
      snap: Snapshot, alerts: Option[graft.runner.Alerts.Sink]): Unit =
    alerts.foreach { sink =>
      val present = snap.files.toSet
      val active = snap.dvs.filter { case (f, _) => present.contains(f) }
      if (active.nonEmpty) {
        val n = activeDvRowCount(path, active)
        val limit = dvCardinalityAlertRows.get()
        if (n > limit) sink.send(graft.runner.Alerts.Alert(
          "txlog_dv_cardinality", path, "commit",
          s"active deletion vectors carry up to $n deleted rows " +
            s"(> $limit): reads now apply them as per-file bitmaps " +
            "(no broadcast anti-join), but the vectors still load per " +
            "executor and widen per-file stats - run purgeDeletes() or " +
            "compact() to materialize and shed them"))
      }
    }

  /** Materialize every active deletion vector (Delta's
    * `REORG TABLE ... APPLY (PURGE)`): rewrite each DV'd file's LIVE rows
    * into fresh files, one commit removing the vectored files — the table
    * returns to plain-scan reads (no anti-join) and the orphaned DV
    * sidecars become vacuum food. No-op (current snapshot returned) when
    * no DVs are active. Cost O(vectored-file bytes), never O(table).
    */
  def purgeDeletes(spark: SparkSession, path: String, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val dvd = base.files.filter(base.dvs.contains).sorted
    if (dvd.isEmpty) return base
    val survivors = readFilesWithDvs(spark, path, dvd, base)
    val (rewritten, rewrittenStats) =
      if (survivors.isEmpty) (Nil, Map.empty[String, FileStats])
      else writeDataFiles(survivors, path, base.partitionCols,
        base.columnMap)
    val dvdSet = dvd.toSet
    publish(path, base, base.copy(version = expectedVersion + 1,
        files = base.files.filterNot(dvdSet.contains) ++ rewritten,
        stats = base.stats.filterNot { case (f, _) => dvdSet.contains(f) } ++
          rewrittenStats,
        dvs = Map.empty),
      add = rewritten, remove = dvd, info = ("PURGE", Map.empty),
      alerts = alerts)
  }

  /** The shared DV-write core of [[updateWhereDV]] and
    * [[replaceWhereKeysDV]]: soft-delete `hits` ((file, row_idx) pairs of
    * live rows, already persisted by the caller) AND append `newData`, as
    * ONE committed version — the MERGE commit shape without file
    * rewrites: the matched rows' old images die by deletion vector
    * (O(matched rows) sidecar bytes, zero data-file churn), the new
    * images append as ordinary add files. The CDF core already emits such
    * a version correctly (newly-dead rows as deletes from the DV delta,
    * added files' rows as inserts — deletes before inserts, so keyed
    * consumers fold it as an update).
    */
  private def commitDvMutation(spark: SparkSession, path: String,
      base: Snapshot, hits: DataFrame, newData: DataFrame,
      op: String, params: Map[String, String],
      alerts: Option[graft.runner.Alerts.Sink]): Snapshot = {
    val expectedVersion = base.version
    val schema = mergeSchemas(base.schema, newData.schema)
    enforceConstraints(newData, schema, base.constraints)
    val (cmap, cmapChanged) =
      extendColumnMap(base.columnMap, base.physTombstones, schema)
    val touched = hits.select("file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (entries, dvsAfter) =
      if (touched.isEmpty) (Map.empty[String, Option[String]], base.dvs)
      else {
        // per-file replacement, exactly deleteWhereDV's merge rule: the
        // new sidecar carries old ∪ new dead rows for every touched file
        val carryOver = base.dvs.filter { case (f, _) => touched.contains(f) }
        val merged =
          if (carryOver.isEmpty) hits
          else hits.unionAll(dvRowsDf(spark, path, carryOver)
            .select(col(DvFileCol).as("file"), col(DvRiCol).as("row_idx")))
        val dvName = writeDvFile(merged, path)
        (touched.map(f => f -> (Some(dvName): Option[String])).toMap,
          base.dvs ++ touched.map(_ -> dvName))
      }
    val (added, addStats) =
      if (newData.isEmpty) (Nil, Map.empty[String, FileStats])
      else writeDataFiles(newData, path, base.partitionCols, cmap)
    val snap = publish(path, base, base.copy(version = expectedVersion + 1,
        files = base.files ++ added, schema = schema,
        stats = base.stats ++ addStats, dvs = dvsAfter, columnMap = cmap),
      add = added, remove = Nil, info = (op, params), dvs = entries,
      colMap = if (cmapChanged) Some(cmap) else None, alerts = alerts)
    alertDvCardinality(spark, path, snap, alerts)
    snap
  }

  /** The snapshot's LIVE rows with (file, row_idx) metadata attached —
    * the probe every DV writer starts from.
    */
  private def liveRowsMeta(spark: SparkSession, path: String,
      base: Snapshot): DataFrame = {
    val present = base.files.toSet
    val active = base.dvs.filter { case (f, _) => present.contains(f) }
    applyActiveDvs(spark, path,
      readFilesMeta(spark, path, base.files, base, base), active)
  }

  /** UPDATE by deletion vector — row-level mutation WITHOUT file rewrites
    * (the Delta DV-update shape): matched live rows soft-delete via a DV
    * sidecar and their UPDATED images append as new files, in ONE atomic
    * commit — cost O(matched rows), never O(touched-file bytes); the
    * untouched rows of a touched file are never rewritten (the classic
    * [[replaceWhereKeys]]/[[deleteWhere]] pay the rewrite; this path
    * defers it to [[purgeDeletes]]/[[compact]]). `set` maps column name →
    * new-value expression evaluated over the ORIGINAL row (standard
    * UPDATE ... SET semantics); a NULL predicate updates nothing (SQL).
    * Updated rows are new rows entering the table: CHECK constraints
    * gate them like any append. The CDF emits the version as
    * delete(old images) + insert(new images) — keyed consumers fold it
    * as an update.
    */
  def updateWhereDV(spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column], expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    require(set.nonEmpty, "TxLog.updateWhereDV: SET map must be non-empty")
    val base = snapshot(path, Some(expectedVersion))
    if (base.files.isEmpty) {
      return publish(path, base, base.copy(version = expectedVersion + 1),
        add = Nil, remove = Nil,
        info = ("UPDATE_DV", Map("predicate" -> cond.toString)),
        alerts = alerts)
    }
    val matched = liveRowsMeta(spark, path, base)
      .filter(coalesce(cond, lit(false))).persist()
    try {
      val hits = matched
        .select(col(MetaFileCol).as("file"), col(MetaRiCol).as("row_idx"))
      val updated = set.toSeq.sortBy(_._1)
        .foldLeft(matched.drop(MetaFileCol, MetaRiCol)) {
          case (d, (c, v)) => d.withColumn(c, v)
        }
      commitDvMutation(spark, path, base, hits, updated,
        "UPDATE_DV", Map("predicate" -> cond.toString,
          "set" -> set.keys.toSeq.sorted.mkString(",")), alerts)
    } finally { matched.unpersist(); () }
  }

  /** MERGE by deletion vector — [[replaceWhereKeys]] without the survivor
    * rewrite: every live row whose `nk` appears in `keys` soft-deletes
    * via a DV sidecar and `newData` appends, ONE atomic commit. Write
    * cost O(matched rows + new data); the files holding matched keys are
    * never rewritten (their vectors materialize at the next
    * purge/compact). Same semantics contract as the classic path — at
    * every version the visible table is identical to what
    * `replaceWhereKeys` would have produced; only the physical layout
    * (and therefore the CDF's delete emission: exactly the matched rows,
    * not whole-file delete+reinsert) differs.
    */
  def replaceWhereKeysDV(spark: SparkSession, path: String, keys: DataFrame,
      nk: Seq[String], newData: DataFrame, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val k = keys.select(nk.map(col): _*)
    if (base.files.isEmpty) {
      // nothing to soft-delete: degenerates to an append of newData
      return commitDvMutation(spark, path, base,
        hits = newData.limit(0).select(lit("").as("file"),
          lit(0L).as("row_idx")).filter(lit(false)),
        newData = newData, "MERGE_DV", Map("keys" -> nk.mkString(",")),
        alerts)
    }
    val matched = liveRowsMeta(spark, path, base)
      .join(broadcast(k), nk, "left_semi").persist()
    try {
      val hits = matched
        .select(col(MetaFileCol).as("file"), col(MetaRiCol).as("row_idx"))
      commitDvMutation(spark, path, base, hits, newData,
        "MERGE_DV", Map("keys" -> nk.mkString(",")), alerts)
    } finally { matched.unpersist(); () }
  }

  /** Qualifiers the [[mergeDV]] clause expressions resolve under: the
    * merged pair frame aliases the target `__graft_t` and the source
    * `__graft_s` (matching the SQL seam's remapping), so a condition or
    * assignment is written `col("__graft_t.x") > col("__graft_s.y")`.
    * BY SOURCE frames carry the target alias only; NOT MATCHED frames
    * the source alias only.
    */
  val MergeTargetAlias = "__graft_t"
  val MergeSourceAlias = "__graft_s"

  /** One `WHEN MATCHED [AND cond]` clause: `set = Some(assignments)` is
    * UPDATE, `set = None` is DELETE. Clauses apply FIRST-MATCH-WINS per
    * matched row; a row no clause accepts is untouched.
    */
  case class MergeMatched(cond: Option[Column], set: Option[Map[String, Column]])

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause (first-match-
    * wins across clauses; a source row no clause accepts does not
    * insert). Conditions and values may reference the source side only.
    */
  case class MergeNotMatched(cond: Option[Column], insert: Map[String, Column])

  /** One `WHEN NOT MATCHED BY SOURCE [AND cond]` clause over target rows
    * no source row matches: `set = Some(...)` is UPDATE, `None` is
    * DELETE. Conditions and assignments may reference the target side
    * only.
    */
  case class MergeBySource(cond: Option[Column], set: Option[Map[String, Column]])

  /** Full-shape MERGE as ONE deletion-vector commit (the Delta MERGE
    * semantics, row-level): conditional and multiple `WHEN MATCHED`
    * clauses (first-match-wins), conditional multi-clause `WHEN NOT
    * MATCHED ... INSERT`, and `WHEN NOT MATCHED BY SOURCE` UPDATE/DELETE.
    * Every touched ORIGINAL row soft-deletes by (file, row_index) pair —
    * exact per-row semantics, so two same-key target rows can take
    * different clause branches (the key-level [[replaceWhereKeysDV]]
    * upsert cannot express that); replacement images and inserts append,
    * all in one committed version the CDF emits as deletes-then-inserts.
    *
    * Cost: one inner join (matched pairs), up to two anti-joins (insert
    * side, by-source side — built only when clauses need them), images
    * unioned per clause; O(matched + affected + new rows) writes, zero
    * data-file churn. The Delta cardinality contract holds: duplicate
    * source key tuples matching existing rows refuse when any matched
    * clause exists (a row's replacement must be well-defined).
    * NULL clause conditions are UNKNOWN = non-matching (SQL).
    */
  def mergeDV(spark: SparkSession, path: String, source: DataFrame,
      keyPairs: Seq[(String, String)],
      matched: Seq[MergeMatched] = Nil,
      notMatched: Seq[MergeNotMatched] = Nil,
      bySource: Seq[MergeBySource] = Nil,
      expectedVersion: Long = -1L,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    require(keyPairs.nonEmpty, "TxLog.mergeDV: key pairs must be non-empty")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "TxLog.mergeDV: no merge clauses")
    val ev = if (expectedVersion >= 0L) expectedVersion
      else currentVersion(path).getOrElse(
        throw new IllegalArgumentException(s"TxLog.mergeDV: no log at $path"))
    val base = snapshot(path, Some(ev))
    val T = MergeTargetAlias; val S = MergeSourceAlias
    val tgtKeys = keyPairs.map(_._1)
    val tgtSchema = base.schema
    val tgtNames = tgtSchema.fieldNames.toSet
    (matched.flatMap(_.set).flatMap(_.keys) ++
      notMatched.flatMap(_.insert.keys) ++
      bySource.flatMap(_.set).flatMap(_.keys)).foreach(c =>
      require(tgtNames.contains(c),
        s"TxLog.mergeDV: assignment targets column '$c' the table does " +
          "not have (schema evolution through MERGE is not supported - " +
          "ALTER TABLE ADD COLUMNS first)"))
    // first-true clause index (-1 = no clause applies; NULL cond = false)
    def actOf(conds: Seq[Option[Column]]): Column =
      conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), els) =>
        when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(i))
          .otherwise(els)
      }
    // a clause's full-schema image over `frame`: assigned columns take
    // the assignment, the rest the original target value (or typed NULL
    // when the frame has no target side / the column is metadata-only)
    def image(frame: DataFrame, assigns: Map[String, Column],
        originalFrom: Option[String]): DataFrame =
      frame.select(tgtSchema.fields.toSeq.map { f =>
        assigns.get(f.name).map(_.as(f.name)).getOrElse(originalFrom match {
          case Some(q) if frame.columns.contains(f.name) &&
              scala.util.Try(frame(s"$q.${f.name}")).isSuccess =>
            col(s"$q.${f.name}").as(f.name)
          case _ => lit(null).cast(f.dataType).as(f.name)
        })
      }: _*)
    val emptyHits = source.limit(0)
      .select(lit("").as("file"), lit(0L).as("row_idx")).filter(lit(false))
    val emptyData = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], tgtSchema)

    val live: Option[DataFrame] =
      if (base.files.isEmpty) None
      else Some(liveRowsMeta(spark, path, base))
    val joinCond = keyPairs.map { case (t, s) =>
      col(s"$T.$t") === col(s"$S.$s") }.reduce(_ && _)

    // Delta cardinality: duplicate source key tuples that MATCH rows
    // refuse whenever a matched clause could replace/delete them
    if (matched.nonEmpty && live.isDefined) {
      val dupKeys = source
        .select(keyPairs.map { case (t, s) => col(s).as(t) }: _*)
        .groupBy(tgtKeys.map(col): _*)
        .agg(count(lit(1)).as("__graft_n")).filter(col("__graft_n") > 1L)
        .drop("__graft_n")
      val clash = live.get.join(broadcast(dupKeys), tgtKeys, "left_semi")
        .limit(1).count()
      require(clash == 0L,
        "TxLog.mergeDV: source has duplicate key tuples matching " +
          "existing rows - replacing one row with several is not an " +
          "update (the Delta cardinality violation); de-duplicate the " +
          "source")
    }

    val ActCol = "__graft_act"
    // matched side: pairs frame with both aliases, first-true clause tag
    val pairs: Option[DataFrame] =
      if (matched.isEmpty || live.isEmpty) None
      else Some(live.get.alias(T).join(source.alias(S), joinCond, "inner")
        .withColumn(ActCol, actOf(matched.map(_.cond)))
        .filter(col(ActCol) >= 0).persist())
    // by-source side: target rows no source matches, first-true tag
    val orphans: Option[DataFrame] =
      if (bySource.isEmpty || live.isEmpty) None
      else Some(live.get.alias(T).join(source.alias(S), joinCond, "left_anti")
        .withColumn(ActCol, actOf(bySource.map(_.cond)))
        .filter(col(ActCol) >= 0).persist())
    try {
      // every ACCEPTED matched/orphan row soft-deletes its original
      // image; UPDATE clauses also append the replacement
      val hits = (pairs.toSeq ++ orphans.toSeq)
        .map(_.select(col(MetaFileCol).as("file"),
          col(MetaRiCol).as("row_idx")))
        .reduceOption(_.unionAll(_)).getOrElse(emptyHits)
      val updateImages = pairs.toSeq.flatMap { p =>
        matched.zipWithIndex.collect { case (MergeMatched(_, Some(set)), i) =>
          image(p.filter(col(ActCol) === i), set, Some(T))
        }
      }
      val bySourceImages = orphans.toSeq.flatMap { o =>
        bySource.zipWithIndex.collect { case (MergeBySource(_, Some(set)), i) =>
          image(o.filter(col(ActCol) === i), set, Some(T))
        }
      }
      val insertImages =
        if (notMatched.isEmpty) Nil
        else {
          val unmatchedSrc = live match {
            case None => source.alias(S)
            case Some(l) =>
              source.alias(S).join(l.alias(T), joinCond, "left_anti")
          }
          val tagged = unmatchedSrc
            .withColumn(ActCol, actOf(notMatched.map(_.cond)))
            .filter(col(ActCol) >= 0)
          notMatched.zipWithIndex.map { case (MergeNotMatched(_, ins), i) =>
            image(tagged.filter(col(ActCol) === i), ins, None)
          }
        }
      val newData = (updateImages ++ bySourceImages ++ insertImages)
        .reduceOption(_.unionByName(_)).getOrElse(emptyData)
      commitDvMutation(spark, path, base, hits, newData, "MERGE_DV",
        Map("keys" -> tgtKeys.mkString(","),
          "clauses" -> (s"matched=${matched.size},notMatched=" +
            s"${notMatched.size},bySource=${bySource.size}")), alerts)
    } finally {
      pairs.foreach { p => p.unpersist(); () }
      orphans.foreach { o => o.unpersist(); () }
    }
  }

  // --- partitioned-table operations -----------------------------------------

  /** The snapshot's per-file partition tuples as a TYPED local DataFrame
    * (`__graft_pfile` + one column per partition column, cast from the
    * recorded canonical strings back to the log schema's types) — the
    * evaluation surface for partition predicates: filtering it with a
    * caller's `Column` gives EXACT Spark SQL semantics (NULL partition =
    * UNKNOWN = non-matching, same as a row filter) without touching any
    * data file. The frame is a LocalRelation over O(files) metadata rows
    * — at 10⁵–10⁶ files this is driver-memory-scale like every other
    * per-file map the log keeps, and Catalyst folds the filter without
    * launching a distributed scan.
    *
    * Requires every file to carry a recorded partition tuple — true by
    * construction on tables initialized with `partitionBy` (partition
    * columns are stats-eligible, so the stats agg always runs); a file
    * without one fails LOUDLY, because guessing a membership either way
    * could silently mis-delete or mis-keep rows.
    */
  private def partitionTuplesDf(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    require(snap.partitionCols.nonEmpty,
      s"TxLog: $path is not a partitioned table - partition operations " +
        "need a table initialized with partitionBy")
    val sch = snap.schema
    val uncovered = snap.files.filterNot(f =>
      snap.stats.get(f).exists(_.parts.size == snap.partitionCols.size))
    require(uncovered.isEmpty,
      s"TxLog: ${uncovered.size} file(s) of $path carry no recorded " +
        s"partition values (e.g. ${uncovered.take(3).mkString(", ")}) - " +
        "partition operations would have to guess their membership; " +
        "rewrite them through compact() first")
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    snap.files.foreach { f =>
      rows.add(Row.fromSeq(f +: snap.stats(f).parts.map(_.orNull)))
    }
    val strSchema = StructType(
      StructField("__graft_pfile", StringType, nullable = false) +:
        snap.partitionCols.map(c => StructField(c, StringType)))
    val typed = snap.partitionCols.map { c =>
      val dt = sch.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"TxLog: partition column '$c' is missing from the recorded " +
            s"schema of $path")).dataType
      col(c).cast(dt).as(c)
    }
    spark.createDataFrame(rows, strSchema)
      .select(col("__graft_pfile") +: typed: _*)
  }

  /** Split the snapshot's files by whether their partition tuple
    * satisfies `cond` (a predicate over the table's PARTITION COLUMNS
    * only — SQL WHERE semantics, UNKNOWN = non-matching):
    * `(matching, rest)`. Zero data-file access — the evaluation runs
    * over log metadata, which is what makes the partition ops
    * metadata-only and a partition-pruned read skip files before any
    * scan is planned. A predicate referencing a non-partition column
    * fails with a named error (its truth varies WITHIN a file, so no
    * file-level split exists).
    */
  def prunedFilesByPartition(spark: SparkSession, path: String,
      cond: Column, asOf: Option[Long] = None): (Seq[String], Seq[String]) =
    splitByPartition(spark, path, snapshot(path, asOf), cond)

  private def splitByPartition(spark: SparkSession, path: String,
      snap: Snapshot, cond: Column): (Seq[String], Seq[String]) = {
    val tuples = partitionTuplesDf(spark, path, snap)
    val matching =
      try tuples.filter(cond).select("__graft_pfile")
        .collect().map(_.getString(0)).toSet
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"TxLog: partition predicate ($cond) must reference only the " +
              s"partition columns (${snap.partitionCols.mkString(", ")}) " +
              s"of $path - a predicate over data columns varies within a " +
              "file and cannot split at file granularity", e)
      }
    (snap.files.filter(matching.contains),
      snap.files.filterNot(matching.contains))
  }

  /** The subset of `entries` (file → recorded partition tuple) whose
    * tuple satisfies `cond` — the shared zero-job metadata evaluator
    * under the partition-filtered stream and the logical-conflict check
    * (LocalRelation over O(entries) rows; SQL WHERE semantics, UNKNOWN =
    * non-matching). A predicate referencing a non-partition column fails
    * with the same named error as every partition op.
    */
  private def matchingOfTuples(spark: SparkSession, partCols: Seq[String],
      sch: StructType, entries: Seq[(String, Seq[Option[String]])],
      cond: Column): Set[String] = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    entries.foreach { case (f, parts) =>
      rows.add(Row.fromSeq(f +: parts.map(_.orNull)))
    }
    val strSchema = StructType(
      StructField("__graft_pfile", StringType, nullable = false) +:
        partCols.map(c => StructField(c, StringType)))
    val typed = partCols.map { c =>
      val dt = sch.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"TxLog: partition column '$c' is missing from the recorded " +
            "schema")).dataType
      col(c).cast(dt).as(c)
    }
    try spark.createDataFrame(rows, strSchema)
      .select(col("__graft_pfile") +: typed: _*)
      .filter(cond).select("__graft_pfile")
      .collect().map(_.getString(0)).toSet
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"TxLog: partition predicate ($cond) must reference only the " +
            s"partition columns (${partCols.mkString(", ")})", e)
    }
  }

  /** Version `v`'s PARTITION-FILTERED view for an append stream serving
    * only `cond`'s partitions: `(matching adds, delete-touches-view)` —
    * the second component is true when any removed or DV-touched file of
    * the version lies IN the filtered partitions (the filtered view saw
    * rows die; a delete entirely in OTHER partitions is invisible to
    * this consumer, which is the point: dropping yesterday's partition
    * must not poison a stream tailing today's). All evaluation is log
    * metadata: removed files' tuples come from the version record's OWN
    * `removeParts` (Delta RemoveFile parity — recorded at commit time,
    * so classification needs only the record itself, exactly like the
    * byte budget). A remove without a recorded tuple fails NAMED, never
    * guessed. A DV-touched file missing from the post-version stats takes
    * its tuple from the pre-version snapshot, failing with a NAMED
    * vacuum-horizon error when v-1's history is gone (v the oldest
    * retained version) instead of a raw missing-version failure.
    */
  private[graft] def versionPartitionView(spark: SparkSession, path: String,
      v: Long, cond: Column): (Seq[String], Boolean) = {
    val rec = parseRecord(path, v)
    val snapV = resolve(path, v)
    require(snapV.partitionCols.nonEmpty,
      s"TxLog: $path is not a partitioned table - partition-filtered " +
        "streams need a table initialized with partitionBy")
    val rm = rec.remove.toSet
    // a commit can both remove a file and clear its DV entry (restore
    // does exactly this) — the file is classified ONCE, as a remove
    val dvTouched = rec.dvs.keys.toSeq.filterNot(rm.contains)
    // the pre-version snapshot, needed only when a DV-touched file is
    // absent from the post-version stats
    lazy val prevStats: Map[String, FileStats] =
      try resolve(path, v - 1).stats
      catch {
        case e: IllegalArgumentException => throw new IllegalStateException(
          s"TxLog: version $v of $path changes the deletion vector of a " +
            "file with no post-version stats, and the pre-version snapshot " +
            s"${v - 1} is below the vacuum retention horizon - a " +
            "partition-filtered stream cannot classify it; restart the " +
            "stream from a retained startingVersion", e)
      }
    val entries0: Seq[(String, Seq[Option[String]])] =
      (rec.add.map(f => f -> rec.stats.get(f).map(_.parts)) ++
        dvTouched.map(f => f -> snapV.stats.get(f).map(_.parts)
          .orElse(prevStats.get(f).map(_.parts))) ++
        rec.remove.map(f => f -> rec.removeParts.get(f))).map {
        case (f, Some(parts)) if parts.size == snapV.partitionCols.size =>
          f -> parts
        case (f, _) => throw new IllegalStateException(
          s"TxLog: file $f of version $v at $path carries no recorded " +
            "partition values - a partition-filtered stream cannot " +
            "decide its membership")
      }
    val matching = matchingOfTuples(spark, snapV.partitionCols, snapV.schema,
      entries0.distinct, cond)
    (rec.add.filter(matching.contains),
      (rec.remove ++ dvTouched).exists(matching.contains))
  }

  /** Physical bytes of version `v`'s adds RESTRICTED to `files` — the
    * partition-filtered byte budget (log metadata, like
    * [[versionAddBytes]]).
    */
  private[graft] def versionAddBytesOf(path: String, v: Long,
      files: Seq[String],
      hadoopConf: org.apache.hadoop.conf.Configuration): Long = {
    val rec = parseRecord(path, v)
    files.map(f => fileBytes(path, f, rec.stats, hadoopConf)).sum
  }

  /** Read ONLY the partitions matching `cond` — a zero-job prune over
    * log metadata before any scan is planned, then the ordinary DV-aware
    * read of the surviving files. Result ≡ `read(...).filter(cond)`
    * exactly (files are partition-aligned; NULL partitions are
    * UNKNOWN-non-matching both ways) — the filter is just already paid
    * at the metadata level, which at 100 TB is the difference between
    * scanning one date and scanning the table.
    */
  def readPartitions(spark: SparkSession, path: String, cond: Column,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(path, asOf)
    val (matching, _) = splitByPartition(spark, path, snap, cond)
    if (matching.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        snap.schema)
    else alignToRecordedSchema(
      readFilesWithDvs(spark, path, matching, snap), snap)
  }

  /** DELETE whole partitions METADATA-ONLY (the Delta fast path for a
    * DELETE whose predicate covers only partition columns): one commit
    * removing every file whose partition tuple satisfies `cond` — zero
    * data files read or written, cost O(matching files) log metadata.
    * This is THE partition payoff at scale: dropping a day from a
    * date-partitioned 100 TB table is a metadata operation, not a
    * rewrite. Removed files' deletion vectors drop with them; the change
    * feed emits the removed files' live rows as deletes (the existing
    * remove-action machinery). Always commits (possibly-empty version),
    * the same contract as [[deleteWhere]].
    */
  def deletePartitions(spark: SparkSession, path: String, cond: Column,
      expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val (matching, rest) = splitByPartition(spark, path, base, cond)
    val matchSet = matching.toSet
    publish(path, base, base.copy(version = expectedVersion + 1, files = rest,
        stats = base.stats.filterNot { case (f, _) => matchSet.contains(f) },
        dvs = base.dvs.filterNot { case (f, _) => matchSet.contains(f) }),
      add = Nil, remove = matching.sorted,
      info = ("DELETE_PARTITIONS", Map("predicate" -> cond.toString)),
      alerts = alerts)
  }

  /** OVERWRITE only the partitions matching `cond` with `newData` — the
    * Delta `replaceWhere` shape, the idempotent-backfill primitive a
    * partitioned pipeline re-runs a day with: ONE commit removing every
    * matching partition's files and adding the new data. Every `newData`
    * row must satisfy `cond` definitively (a row outside the predicate
    * would survive a re-run's remove and silently double — refused with
    * a named error BEFORE anything publishes, Delta's same contract);
    * the check is one distributed agg over `newData`. CHECK constraints
    * gate the new rows like any commit; untouched partitions carry over
    * by reference.
    */
  def replaceWherePartitions(spark: SparkSession, path: String,
      cond: Column, newData0: DataFrame, expectedVersion: Long,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    val base = snapshot(path, Some(expectedVersion))
    val (matching, rest) = splitByPartition(spark, path, base, cond)
    // PERSIST across the leak check and the staged write: a
    // non-deterministic frame (sampling, rand-derived columns) could
    // otherwise pass the check on one evaluation and write different
    // rows on the next — silently breaking the very idempotency contract
    // the check protects
    val newData = newData0.persist()
    try {
      val schema = mergeSchemas(base.schema, newData.schema)
      enforceConstraints(newData, schema, base.constraints)
      val (cmap, cmapChanged) =
        extendColumnMap(base.columnMap, base.physTombstones, schema)
      val violRow = newData.agg(
        sum(when(coalesce(cond, lit(false)), 0L).otherwise(1L)).as("v")).head()
      val viol = if (violRow.isNullAt(0)) 0L else violRow.getLong(0)
      require(viol == 0L,
        s"TxLog.replaceWherePartitions: $viol row(s) of the replacement " +
          s"data fall OUTSIDE the predicate ($cond) - they would survive a " +
          "re-run's remove and silently duplicate; constrain the data or " +
          "widen the predicate")
      val (added, addStats) =
        writeDataFiles(newData, path, base.partitionCols, cmap)
      val matchSet = matching.toSet
      // RECONCILE losses of the version race when the interleaved commits
      // never touched OUR partitions (the Delta conflict-checker shape —
      // two disjoint replaceWhere backfills both land, neither re-runs
      // its write; that parallel-backfill pattern is exactly what
      // partitioning exists for). Compatibility per interleaved record:
      // delta-shaped, no constraint change, removes and DV entries
      // disjoint from our matching files, and every interleaved ADD's
      // recorded tuple OUTSIDE our predicate (an add into our partitions
      // makes our remove set stale — real conflict, re-run).
      var curBase = base
      var reconciles = 0
      var out: Snapshot = null
      while (out == null) {
        try {
          out = publish(path, curBase, curBase.copy(
              version = curBase.version + 1,
              files = curBase.files.filterNot(matchSet.contains) ++ added,
              schema = schema,
              stats = curBase.stats.filterNot { case (f, _) =>
                matchSet.contains(f) } ++ addStats,
              dvs = curBase.dvs.filterNot { case (f, _) => matchSet.contains(f) },
              columnMap = cmap),
            add = added, remove = matching.sorted,
            info = ("REPLACE_WHERE", Map("predicate" -> cond.toString)),
            colMap = if (cmapChanged) Some(cmap) else None, alerts = alerts)
        } catch {
          case e: ConflictException =>
            reconciles += 1
            if (reconciles > MaxReconciles) throw e
            val cur = currentVersion(path).getOrElse(throw e)
            val compatible = (curBase.version + 1 to cur).forall { w =>
              val r = parseRecord(path, w)
              r.constraints.isEmpty &&
                r.colMap.isEmpty && r.colDrop.isEmpty &&
                r.remove.forall(f => !matchSet.contains(f)) &&
                r.dvs.keys.forall(f => !matchSet.contains(f)) && {
                  val addTuples = r.add.map(f =>
                    f -> r.stats.get(f).map(_.parts))
                  addTuples.forall { case (_, p) =>
                    p.exists(_.size == base.partitionCols.size) } &&
                    matchingOfTuples(spark, base.partitionCols, schema,
                      addTuples.map { case (f, p) => f -> p.get }, cond)
                      .isEmpty
                }
            }
            if (!compatible) throw e
            curBase = resolve(path, cur)
            reconciledCommits.incrementAndGet()
            alerts.foreach(_.send(graft.runner.Alerts.Alert(
              "txlog_conflict_reconciled", path, "commit",
              s"replaceWherePartitions lost the version race to commits " +
                s"outside its partitions; re-publishing at ${cur + 1} " +
                s"without re-execution (reconcile $reconciles)")))
        }
      }
      out
    } finally { newData.unpersist(); () }
  }

  /** ZERO-COPY CLONE (the Delta `SHALLOW CLONE` shape, made durable):
    * create a NEW independent table at `dst` serving exactly the `src`
    * snapshot at `asOf` (default: current) — data files and active DV
    * sidecars are HARD-LINKED into `dst` (content shared, no bytes
    * copied; degrading to a real copy on filesystems without links), and
    * `dst` gets its own fresh log at version 0. Cost O(files) metadata +
    * link syscalls, never O(table bytes) — cloning a 100 TB table for a
    * what-if experiment is instant.
    *
    * Independence is by IMMUTABILITY, not reference counting: data files
    * are never mutated in place (the table contract), so writes to
    * either table create new files, and a vacuum on either side only
    * unlinks its own directory entry — the shared content survives until
    * its LAST link drops (the filesystem is the refcount). This is
    * stronger than Delta's shallow clone, whose absolute-path references
    * break when the SOURCE vacuums; here a source vacuum cannot hurt the
    * clone.
    *
    * Cloned: schema, partition columns, per-file stats, CHECK
    * constraints, active deletion vectors. NOT cloned: txn watermarks
    * (Delta's same choice — a streaming writer's exactly-once identity
    * belongs to the source table; carrying it over would make the
    * clone silently SKIP the first batches a pipeline pointed at it
    * writes) and history (the clone starts at version 0; time travel
    * into pre-clone states belongs to the source).
    */
  def cloneTable(src: String, dst: String, asOf: Option[Long] = None,
      alerts: Option[graft.runner.Alerts.Sink] = None): Snapshot = {
    require(currentVersion(dst).isEmpty,
      s"TxLog.cloneTable: a table already exists at $dst")
    val snap = snapshot(src, asOf)
    new java.io.File(dst).mkdirs()
    val present = snap.files.toSet
    val activeDvs = snap.dvs.filter { case (f, _) => present.contains(f) }
    val toLink = snap.files ++ activeDvs.values.toSeq.distinct
    toLink.foreach { f =>
      val s = new java.io.File(src, f).toPath
      val d = new java.io.File(dst, f).toPath
      try { java.nio.file.Files.createLink(d, s); () }
      catch {
        // no hard links on this filesystem (or cross-device): fall back
        // to a real copy — correctness identical, zero-copy lost
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(s, d); ()
      }
    }
    publish(dst, EmptySnapshot, snap.copy(version = 0L, txns = Map.empty,
        stats = snap.stats.filter { case (f, _) => present.contains(f) },
        dvs = activeDvs),
      add = snap.files, remove = Nil,
      info = ("CLONE", Map("source" -> src,
        "sourceVersion" -> snap.version.toString)),
      constraints = Some(snap.constraints),
      dvs = activeDvs.map { case (f, dv) => f -> (Some(dv): Option[String]) },
      // the clone's fresh log must RECORD the source's column mapping:
      // the linked files carry physical names only the map explains
      colMap = if (snap.columnMap.isEmpty) None else Some(snap.columnMap),
      colDrop =
        if (snap.physTombstones.isEmpty) None else Some(snap.physTombstones),
      alerts = alerts)
  }

  /** Stage and move a single deletion-vector sidecar holding `rows`
    * (columns `file`, `row_idx`) under the table dir as `dv-*.parquet` —
    * invisible until a version record references it, exactly like data
    * files. One file per commit: the deleted-row set is metadata-scale by
    * the DV contract.
    */
  private def writeDvFile(rows: DataFrame, path: String): String = {
    val stage = java.nio.file.Files.createTempDirectory("graft_txdv")
    try {
      rows.select(col("file"), col("row_idx")).repartition(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.startsWith("part-")).head
      val name = "dv-" + part.getName.stripPrefix("part-")
      java.nio.file.Files.move(part.toPath,
        new java.io.File(path, name).toPath)
      name
    } finally graft.core.Fs.rmTree(stage.toFile)
  }
}
