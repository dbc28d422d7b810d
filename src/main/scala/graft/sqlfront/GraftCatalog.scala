package graft.sqlfront

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.gold.TxLog
import graft.streaming.{TxLogDvRelation, TxLogRelation}

/** A DSv2 [[TableCatalog]] serving TxLog tables NATIVELY (the round-14
  * verdict's end-state for the SQL seam): register once —
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sqlfront.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/graft")
  * }}}
  *
  * — and the full SQL surface resolves through Spark's own V2 paths with
  * NO parser interception and NO session-catalog provider checks:
  *
  *  - `CREATE TABLE graft.db.t (...) [PARTITIONED BY (...)]` /
  *    `CREATE TABLE ... AS SELECT` — managed under `<warehouse>/db/t`
  *    (an explicit LOCATION pins an external dir)
  *  - `SELECT ... FROM graft.db.t [VERSION AS OF v | TIMESTAMP AS OF ts]`
  *    — time travel through the native `loadTable` overloads
  *  - `INSERT INTO / INSERT OVERWRITE` — the ACID commit protocol via
  *    the V1 write bridge (the same `InsertableRelation` the session-
  *    catalog seam proved out)
  *  - `DELETE FROM / UPDATE / MERGE INTO` — analyzed V2 plans swapped by
  *    the SAME post-hoc rule onto the DV committers ([[graft.plans
  *    .RewriteTxLogDml]] matches the V2 relation shape too)
  *  - `ALTER TABLE ... ADD COLUMNS / RENAME COLUMN / DROP COLUMN /
  *    ADD CONSTRAINT / DROP CONSTRAINT` — all arrive as native
  *    [[TableChange]]s in [[alterTable]] (the catalog declares
  *    `SUPPORT_TABLE_CONSTRAINT`), routed to the metadata-only DDL
  *    committers; `GraftSqlParser` never fires for 3-part names
  *  - `CALL graft.system.<proc>(...)` — the procedure surface is
  *    inherited ([[GraftProcedureCatalog]])
  *
  * Reads are EXPANDED to the native TxLog plan by the injected
  * `ExpandTxLogDvScan` rule (the V2 relation case) — pushdown, stats
  * pruning, DV handling and column mapping all identical to
  * `TxLog.read`; the [[V1Scan]] fallback keeps extension-less sessions
  * correct through the proven `TxLogDvRelation`.
  *
  * Besides `db.table` under the warehouse, the Delta-style PATH
  * namespace is supported: `graft.path.`/abs/dir`` addresses an existing
  * TxLog table by directory, no registration at all.
  */
class GraftCatalog extends GraftProcedureCatalog
    with TableCatalog with SupportsNamespaces {

  private var warehouse: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    warehouse = Option(options.get("warehouse"))
  }

  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def warehouseDir: String = warehouse.getOrElse(
    throw new IllegalArgumentException(
      s"graft catalog '${name()}': set spark.sql.catalog.${name()}" +
        ".warehouse to the managed-table root directory (path-namespace " +
        s"reads like ${name()}.path.`/abs/dir` work without it)"))

  /** `db.t` → `<warehouse>/db/t`; `path.<dir>` → the dir itself. */
  private def tableDir(ident: Identifier): String = ident.namespace() match {
    case Array("path") => graft.streaming.TxLogSource.tablePath(
      Map("path" -> ident.name()))
    case Array(db) => s"$warehouseDir/$db/${ident.name()}"
    case other => throw new NoSuchTableException(
      Seq(name()) ++ other :+ ident.name())
  }

  private def spark: SparkSession = SparkSession.active

  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespace match {
      case Array("path") => Array.empty
      case Array(db) =>
        val dir = new java.io.File(s"$warehouseDir/$db")
        if (!dir.isDirectory) throw new NoSuchNamespaceException(
          Seq(name(), db))
        Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(d => d.isDirectory && TxLog.currentVersion(d.getPath).isDefined)
          .map(d => Identifier.of(namespace, d.getName))
      case other => throw new NoSuchNamespaceException(Seq(name()) ++ other)
    }

  override def tableExists(ident: Identifier): Boolean =
    try TxLog.currentVersion(tableDir(ident)).isDefined
    catch { case scala.util.control.NonFatal(_) => false }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    val cur = TxLog.currentVersion(dir).getOrElse(
      throw new NoSuchTableException(
        Seq(name()) ++ ident.namespace() :+ ident.name()))
    GraftTable(fullName(ident), dir, cur, timeTraveled = false)
  }

  /** `VERSION AS OF <v>` — the version string is a log version. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    GraftTable(fullName(ident), dir, version.toLong, timeTraveled = true)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROS. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    GraftTable(fullName(ident), dir,
      TxLog.versionAtTimestamp(dir, timestamp / 1000L),
      timeTraveled = true)
  }

  private def fullName(ident: Identifier): String =
    (Seq(name()) ++ ident.namespace() :+ ident.name()).mkString(".")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(
        Seq(name()) ++ ident.namespace() :+ ident.name())
    // an explicit external LOCATION would create a table loadTable can
    // never find again (this catalog has no metastore to persist the
    // mapping — the TxLog dir IS the store): refuse loudly; external
    // dirs are addressed directly via the path namespace
    require(!properties.containsKey(TableCatalog.PROP_LOCATION),
      s"graft catalog: explicit LOCATION is not supported for managed " +
        s"tables (the warehouse layout is the catalog's only store) - " +
        s"address an external TxLog dir as ${name()}.path.`/abs/dir`, " +
        "or clone it under the warehouse")
    val dir = tableDir(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case other => throw new IllegalArgumentException(
        s"graft catalog: only identity PARTITIONED BY columns are " +
          s"supported - got transform '$other'")
    }
    // a LOCAL empty frame, not an emptyRDD one: the RDD shape has zero
    // partitions, so the staged parquet write emits NO files at all and
    // the stats read cannot even infer a schema; the local-relation
    // write produces the one empty part file that is the established
    // empty-table shape
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    TxLog.init(empty, dir, partitionBy = partCols)
    GraftTable(fullName(ident), dir, 0L, timeTraveled = false)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    def single(parts: Array[String], what: String): String = {
      require(parts.length == 1,
        s"graft catalog: $what on a nested field is not supported - " +
          "only top-level columns map")
      parts.head
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        val c = single(a.fieldNames(), "ADD COLUMN")
        TxLog.commitWithRetry(dir)(v =>
          TxLog.addColumn(spark, dir, c, a.dataType(), v))
      case r: TableChange.RenameColumn =>
        val c = single(r.fieldNames(), "RENAME COLUMN")
        TxLog.commitWithRetry(dir)(v =>
          TxLog.renameColumn(dir, c, r.newName(), v))
      case d: TableChange.DeleteColumn =>
        val c = single(d.fieldNames(), "DROP COLUMN")
        TxLog.commitWithRetry(dir)(v => TxLog.dropColumn(dir, c, v))
      case a: TableChange.AddConstraint =>
        a.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
            TxLog.commitWithRetry(dir)(v =>
              TxLog.addConstraint(spark, dir, chk.name(),
                chk.predicateSql(), v))
          case other => throw new IllegalArgumentException(
            s"graft catalog: only CHECK constraints are supported - " +
              s"got ${other.getClass.getSimpleName}")
        }
      case d: TableChange.DropConstraint =>
        if (!(d.ifExists() &&
            !TxLog.snapshot(dir).constraints.contains(d.name())))
          TxLog.commitWithRetry(dir)(v =>
            TxLog.dropConstraint(dir, d.name(), v))
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported ALTER TABLE change " +
          s"${other.getClass.getSimpleName} on TxLog tables")
    }
    spark.catalog.refreshByPath(dir)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    // path-namespace tables are EXTERNAL by definition: dropping the
    // name must never delete the user's directory (Delta/Spark external
    // tables keep their data on DROP; here there is no name to unregister
    // either, so the statement is meaningless — refuse loudly)
    require(!ident.namespace().sameElements(Array("path")),
      s"graft catalog: DROP TABLE on the path namespace would delete " +
        s"the external directory ${ident.name()} - remove it explicitly " +
        "if that is intended")
    try {
      val dir = tableDir(ident)
      if (TxLog.currentVersion(dir).isEmpty) false
      else { graft.core.Fs.rmTree(new java.io.File(dir)); true }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  override def renameTable(old: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: RENAME TABLE is not supported (clone + drop, or " +
        "move the directory and re-address it)")

  // --- namespaces (directories under the warehouse) -------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val dirs = warehouse.toSeq.flatMap(w =>
      Option(new java.io.File(w).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(d => Array(d.getName)).toSeq)
    (dirs :+ Array("path")).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(Seq(name()) ++ namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace match {
      case Array("path") => true
      case Array(db) =>
        warehouse.exists(w => new java.io.File(s"$w/$db").isDirectory)
      case _ => false
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(Seq(name()) ++ namespace)

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = namespace match {
    case Array(db) =>
      java.nio.file.Files.createDirectories(
        new java.io.File(s"$warehouseDir/$db").toPath); ()
    case other => throw new IllegalArgumentException(
      s"graft catalog: only single-level namespaces - ${other.mkString(".")}")
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no alterable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = namespace match {
    case Array(db) =>
      val dir = new java.io.File(s"$warehouseDir/$db")
      if (!dir.isDirectory) false
      else if (!cascade &&
          Option(dir.listFiles()).exists(_.nonEmpty)) throw
        new IllegalStateException(
          s"graft catalog: namespace $db is not empty (use CASCADE)")
      else { graft.core.Fs.rmTree(dir); true }
    case _ => false
  }
}

/** A TxLog table served through the DSv2 seam. The V2 scan is a
  * [[V1Scan]] handing back the proven [[TxLogDvRelation]] (correct in
  * any session); in a Graft session the injected `ExpandTxLogDvScan`
  * rule replaces the whole V2 relation with the native `TxLog.read`
  * plan before any scan is built. Writes bridge to the same relation's
  * `InsertableRelation` (append + truncate-overwrite), keeping INSERT
  * on the ACID commit protocol.
  */
case class GraftTable(tableName: String, dir: String,
    // the version this table object serves — ALWAYS resolved by the
    // catalog at load time (pin-at-construction, the V1 relation's
    // discipline) and a constructor FIELD so table equality is honest:
    // two loads of the same dir at different versions must never
    // compare equal
    servedVersion: Long, timeTraveled: Boolean)
  extends Table with SupportsRead with SupportsWrite {

  private val snap = TxLog.snapshot(dir, Some(servedVersion))

  override def name(): String = tableName

  override val schema: StructType =
    TxLogRelation.asNullableSchema(snap.schema)

  override def partitioning(): Array[Transform] =
    snap.partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def properties(): JMap[String, String] =
    Map(TableCatalog.PROP_LOCATION -> dir,
      TableCatalog.PROP_PROVIDER -> "graft-txlog").asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def toString: String = s"GraftTable($dir, v=$servedVersion)"

  private def relation(spark: SparkSession): TxLogDvRelation =
    TxLogDvRelation(dir, servedVersion, schema, timeTraveled)(spark)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          relation(context.sparkSession).asInstanceOf[T]
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                ignored: Boolean): Unit =
              relation(data.sparkSession).insert(data, overwrite)
          }
      }
    }
}
