package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{AlterTableAddColumnsCommand, LeafRunnableCommand}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftbridge.{CatalogBridge, ColumnBridge, StreamingSourceBridge}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.gold.TxLog
import graft.streaming.{TxLogDvRelation, TxLogSource}

/** NATIVE SQL row-level DML + DDL over catalog TxLog tables — the first
  * SQL a lakehouse user types:
  *
  * {{{
  * DELETE FROM t WHERE cents < 0
  * UPDATE t SET cents = cents + 1 WHERE grp = 'a'
  * MERGE INTO t USING s ON t.id = s.id
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * ALTER TABLE t ADD COLUMNS (flag BIGINT)
  * ALTER TABLE t ADD CONSTRAINT c CHECK (cents >= 0)
  * ALTER TABLE t DROP CONSTRAINT c
  * }}}
  *
  * SEAM EVIDENCE (pinned empirically, TxLogSqlDmlSpec): Spark 4 ANALYZES
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` over a V1 catalog table
  * cleanly — the analyzed plans are `DeleteFromTable` / `UpdateTable` /
  * `MergeIntoTable` over `LogicalRelation(TxLogDvRelation)` — and only
  * EXECUTION refuses (`UNSUPPORTED_FEATURE.TABLE_OPERATION`: the V2
  * row-level-operation rewrites resolve only for DSv2 tables with
  * `SupportsRowLevelOperations`). A POST-HOC RESOLUTION rule
  * ([[RewriteTxLogDml]]) therefore swaps the three analyzed shapes onto
  * leaf runnable commands that execute the existing DV committers
  * (`deleteWhereDV` / `updateWhereDV` / `replaceWhereKeysDV`) under
  * `commitWithRetry` — the same committers the `CALL` quartet proved out.
  * `ALTER TABLE ADD COLUMNS` analyzes to the V1
  * `AlterTableAddColumnsCommand` and fails ITS OWN provider check at
  * execution — the same rule intercepts it for graft-txlog providers and
  * routes to the metadata-only `TxLog.addColumn`, then re-pins the
  * catalog schema so the next SELECT sees the evolved table without
  * manual re-registration (the round-13 stale-schema refusal becomes this
  * feature's own regression guard).
  *
  * `ALTER TABLE ADD/DROP CONSTRAINT` (Spark 4.1 parses both) cannot use
  * that seam: the analyzer itself refuses them for non-DSv2 tables
  * DURING the main resolution batch, before any injected resolution or
  * post-hoc rule runs (probed: an injected resolution rule never observes
  * the node). Those two statements are therefore intercepted at the
  * PARSER ([[GraftSqlParser]]), swapped for commands that verify at run
  * time the target really is a graft-txlog catalog table (anything else
  * refuses with the unsupported-operation message Spark would have
  * produced).
  *
  * Expression handling: analyzed conditions/assignments reference the
  * relation's resolved `AttributeReference`s, whose exprIds mean nothing
  * to the fresh `TxLog.read` plan the committers build. Every captured
  * expression is REMAPPED attribute-by-attribute onto unresolved
  * name(-qualified) attributes and carried as a [[Column]] (a Column
  * field is invisible to `QueryPlan.expressions`, so the command stays
  * `resolved` for checkAnalysis); re-resolution happens inside the
  * committer's own plan.
  *
  * MERGE shapes (round 15): conditional and MULTIPLE `WHEN MATCHED`
  * clauses (first-match-wins), conditional multi-clause `WHEN NOT
  * MATCHED ... INSERT`, and `WHEN NOT MATCHED BY SOURCE` UPDATE/DELETE
  * all compile onto the row-level `TxLog.mergeDV` commit
  * ([[GraftTxLogMergeDvCommand]]); the original single-unconditional
  * upsert keeps its proven key-level command. `DELETE`/`UPDATE` with a
  * top-level uncorrelated `(cols) IN (SELECT ...)` conjunct rewrite
  * internally onto the same keyed-MERGE path (source = the deduplicated
  * subquery, residual conjuncts as the matched condition).
  *
  * Refused, loudly: time-traveled targets (a frozen view — INSERT
  * parity), correlated/scalar/non-IN subqueries in DML conditions or
  * values, `WITH SCHEMA EVOLUTION`, NOT MATCHED conditions referencing
  * the target (and BY SOURCE referencing the source), and a MERGE whose
  * source carries duplicate keys that match existing rows (the Delta
  * cardinality error — replacing one row with two is not an update).
  */
object TxLogSqlDml {

  /** A DML target's (table dir, time-traveled?, output attributes) —
    * unwraps alias nesting down to either the V1 TxLog relation
    * (session-catalog tables) or the DSv2 [[graft.sqlfront.GraftTable]]
    * relation (the graft catalog); None for anything else (leave the
    * plan for Spark to refuse).
    */
  private[plans] def unwrapTarget(plan: LogicalPlan)
      : Option[(String, Boolean, Seq[Attribute])] = plan match {
    case SubqueryAlias(_, child) => unwrapTarget(child)
    case lr: LogicalRelation => lr.relation match {
      case r: TxLogDvRelation => Some((r.path, r.timeTraveled, lr.output))
      case _ => None
    }
    case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if rel.table.isInstanceOf[graft.sqlfront.GraftTable] =>
      val t = rel.table.asInstanceOf[graft.sqlfront.GraftTable]
      Some((t.dir, t.timeTraveled, rel.output))
    case _ => None
  }

  private[plans] def refuseSubqueries(e: Expression, stmt: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft-txlog: $stmt supports a subquery only as a top-level " +
        "conjunct of the form <target columns> IN (SELECT ...) " +
        "(uncorrelated) - rewrite other shapes as MERGE INTO (with the " +
        "subquery as the source) or a CALL graft_sys.system procedure")

  /** Recognize `... AND (cols) IN (SELECT ...) AND ...` in a DELETE/
    * UPDATE condition: exactly ONE conjunct is an UNCORRELATED
    * [[org.apache.spark.sql.catalyst.expressions.InSubquery]] whose
    * values are plain target columns, every other conjunct
    * subquery-free. Returns (target key names, the subquery plan
    * projected onto fresh `__graft_k<i>` key names, residual conjuncts)
    * — the raw material of the internal keyed-MERGE rewrite. None = no
    * such shape (the caller falls back to the plain path / refusal).
    */
  private[plans] def splitInSubquery(cond: Expression,
      tgtSet: AttributeSet): Option[(Seq[String], LogicalPlan,
      Option[Expression])] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, InSubquery}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cs = conjuncts(cond)
    val (subs, rest) = cs.partition(_.isInstanceOf[InSubquery])
    subs match {
      case Seq(in: InSubquery)
          if in.query.outerAttrs.isEmpty &&
            in.values.forall {
              case a: AttributeReference => tgtSet.contains(a)
              case _ => false
            } &&
            rest.forall(!_.exists(_.isInstanceOf[SubqueryExpression])) =>
        val keys = in.values.map(_.asInstanceOf[AttributeReference].name)
        val sub = in.query.plan
        val aliases = sub.output.take(in.values.length).zipWithIndex.map {
          case (a, i) => Alias(a, s"__graft_k$i")()
        }
        val projected: LogicalPlan = Project(aliases, sub)
        Some((keys, projected, rest.reduceOption(And)))
      case _ => None
    }
  }

  /** Remap resolved attributes to unresolved by-name attributes —
    * `tgt`/`src` give each side's attribute set and the qualifier to
    * re-resolve under (None = bare name, for single-table statements).
    */
  private[plans] def remap(e: Expression,
      tgt: (AttributeSet, Option[String]),
      src: (AttributeSet, Option[String]) = (AttributeSet.empty, None))
      : Expression =
    e.transform {
      case a: AttributeReference if tgt._1.contains(a) =>
        tgt._2.map(q => UnresolvedAttribute(Seq(q, a.name)))
          .getOrElse(UnresolvedAttribute.quoted(a.name))
      case a: AttributeReference if src._1.contains(a) =>
        src._2.map(q => UnresolvedAttribute(Seq(q, a.name)))
          .getOrElse(UnresolvedAttribute.quoted(a.name))
    }

  private[plans] def toCol(e: Expression): Column = ColumnBridge.column(e)

  /** Assignment target column name: analyzed MERGE/UPDATE assignment keys
    * are the target relation's attributes (possibly struct fields — those
    * are refused: partial struct update needs the V2 row-level machinery).
    */
  private[plans] def assignName(key: Expression, tgtSet: AttributeSet): String =
    key match {
      case a: AttributeReference if tgtSet.contains(a) => a.name
      case other => throw new IllegalArgumentException(
        s"graft-txlog: assignment target '$other' is not a plain column " +
          "of the TxLog table - nested-field assignment is not supported")
    }

  val TargetAlias = "__graft_t"
  val SourceAlias = "__graft_s"
}

/** Post-hoc resolution rule: swap analyzed V1 DML/DDL plans over TxLog
  * catalog tables onto the graft runnable commands (see [[TxLogSqlDml]]).
  */
case class RewriteTxLogDml(session: SparkSession) extends Rule[LogicalPlan] {
  import TxLogSqlDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {

    // `.resolved` guards: an unresolvable condition/assignment (e.g. a
    // mistyped column qualifier) must fall through to Spark's own
    // UNRESOLVED_COLUMN error, not a confusing graft refusal
    case DeleteFromTable(target, cond)
        if cond.resolved && unwrapTarget(target).isDefined =>
      val (path, timeTraveled, out) = unwrapTarget(target).get
      val tgtSet = AttributeSet(out)
      splitInSubquery(cond, tgtSet) match {
        case Some((keys, subPlan, residual)) =>
          // DELETE ... WHERE (k) IN (SELECT ...) [AND residual] compiles
          // onto the keyed MERGE path: source = the (deduplicated)
          // subquery, one conditional matched-DELETE clause — row-level,
          // so the residual applies per row
          GraftTxLogMergeDvCommand(path, timeTraveled, subPlan,
            keys.zipWithIndex.map { case (k, i) => (k, s"__graft_k$i") },
            matched = Seq(graft.gold.TxLog.MergeMatched(
              residual.map(r => toCol(remap(r, (tgtSet, Some(TargetAlias))))),
              None)),
            notMatched = Nil, bySource = Nil, dedupeSource = true)
        case None =>
          refuseSubqueries(cond, "DELETE")
          GraftTxLogDeleteCommand(path, timeTraveled,
            toCol(remap(cond, (tgtSet, None))))
      }

    case UpdateTable(target, assignments, cond)
        if cond.forall(_.resolved) && assignments.forall(_.resolved) &&
          unwrapTarget(target).isDefined =>
      val (path, timeTraveled, out) = unwrapTarget(target).get
      val tgtSet = AttributeSet(out)
      assignments.foreach(a => refuseSubqueries(a.value, "UPDATE"))
      cond.flatMap(splitInSubquery(_, tgtSet)) match {
        case Some((keys, subPlan, residual)) =>
          val set = assignments.map(a =>
            assignName(a.key, tgtSet) -> toCol(remap(a.value,
              (tgtSet, Some(TargetAlias))))).toMap
          GraftTxLogMergeDvCommand(path, timeTraveled, subPlan,
            keys.zipWithIndex.map { case (k, i) => (k, s"__graft_k$i") },
            matched = Seq(graft.gold.TxLog.MergeMatched(
              residual.map(r => toCol(remap(r, (tgtSet, Some(TargetAlias))))),
              Some(set))),
            notMatched = Nil, bySource = Nil, dedupeSource = true)
        case None =>
          cond.foreach(refuseSubqueries(_, "UPDATE"))
          val set = assignments.map(a =>
            assignName(a.key, tgtSet) -> toCol(remap(a.value, (tgtSet, None))))
          GraftTxLogUpdateCommand(path, timeTraveled,
            toCol(remap(cond.getOrElse(org.apache.spark.sql.catalyst
              .expressions.Literal.TrueLiteral), (tgtSet, None))), set)
      }

    case m: MergeIntoTable
        if m.resolved && unwrapTarget(m.targetTable).isDefined =>
      rewriteMerge(m)

    case a: AlterTableAddColumnsCommand if isTxLogTable(a.table) =>
      GraftTxLogAddColumnsCommand(a.table, a.colsToAdd)

    case other => other
  }

  private def isTxLogTable(ident: TableIdentifier): Boolean =
    try session.sessionState.catalog.getTableMetadata(ident)
      .provider.exists(_.equalsIgnoreCase("graft-txlog"))
    catch { case scala.util.control.NonFatal(_) => false }

  private def rewriteMerge(m: MergeIntoTable): LogicalPlan = {
    import TxLogSqlDml._
    val (path, timeTraveled, tgtOut) = unwrapTarget(m.targetTable).get
    val tgtSet = AttributeSet(tgtOut)
    val srcSet = AttributeSet(m.sourceTable.output)
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"graft-txlog: MERGE INTO supports UPDATE SET / DELETE / INSERT " +
        "actions (conditional, multiple, and WHEN NOT MATCHED BY SOURCE " +
        "included), an equality-conjunction ON clause between target and " +
        s"source columns, and no schema evolution - $what. Use CALL " +
        "graft_sys.system.merge_into or the Scala API for other shapes")
    if (m.withSchemaEvolution) fail("WITH SCHEMA EVOLUTION was requested")
    // ON clause: conjunction of target-col = source-col equalities
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        split(l) ++ split(r)
      case other => Seq(other)
    }
    val keyPairs: Seq[(String, String)] = split(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tgtSet.contains(a) && srcSet.contains(b) => (a.name, b.name)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if srcSet.contains(a) && tgtSet.contains(b) => (b.name, a.name)
      case other => fail(s"ON conjunct '$other' is not a plain " +
        "target-column = source-column equality")
    }
    def remapAssigns(assigns: Seq[Assignment]): Seq[(String, Column)] =
      assigns.map { a =>
        refuseSubqueries(a.value, "MERGE")
        assignName(a.key, tgtSet) -> toCol(remap(a.value,
          (tgtSet, Some(TargetAlias)), (srcSet, Some(SourceAlias))))
      }
    // the SIMPLE shapes (one unconditional matched action, at most one
    // unconditional insert, no by-source) keep the original key-level
    // command — the proven upsert path the gates pin; everything else
    // routes to the general row-level mergeDV command
    val simple = m.notMatchedBySourceActions.isEmpty &&
      (m.matchedActions match {
        case Nil | Seq(UpdateAction(None, _, _)) | Seq(DeleteAction(None)) =>
          true
        case _ => false
      }) &&
      (m.notMatchedActions match {
        case Nil | Seq(InsertAction(None, _)) => true
        case _ => false
      })
    if (simple) {
      val matched: Option[Either[Seq[(String, Column)], Unit]] =
        m.matchedActions match {
          case Nil => None
          case Seq(UpdateAction(None, assigns, _)) =>
            Some(Left(remapAssigns(assigns)))
          case Seq(DeleteAction(None)) => Some(Right(()))
          case other => fail(s"unexpected matched actions $other")
        }
      val insert: Option[Seq[(String, Column)]] = m.notMatchedActions match {
        case Nil => None
        case Seq(InsertAction(None, assigns)) => Some(remapAssigns(assigns))
        case other => fail(s"unexpected not-matched actions $other")
      }
      if (matched.isEmpty && insert.isEmpty) fail("no actions")
      GraftTxLogMergeCommand(path, timeTraveled, m.sourceTable,
        keyPairs, matched, insert)
    } else {
      import graft.gold.TxLog.{MergeBySource, MergeMatched, MergeNotMatched}
      def remapCond(c: Expression): Column = {
        refuseSubqueries(c, "MERGE")
        toCol(remap(c, (tgtSet, Some(TargetAlias)),
          (srcSet, Some(SourceAlias))))
      }
      def refuseSide(e: Expression, side: AttributeSet, what: String): Unit =
        require(e.references.intersect(side).isEmpty,
          s"graft-txlog: MERGE $what may not reference the " +
            (if (side eq tgtSet) "target" else "source") + s" side - '$e'")
      val matched = m.matchedActions.map {
        case UpdateAction(c, assigns, _) =>
          MergeMatched(c.map(remapCond), Some(remapAssigns(assigns).toMap))
        case DeleteAction(c) => MergeMatched(c.map(remapCond), None)
        case other => fail(s"unsupported matched action $other")
      }
      val notMatched = m.notMatchedActions.map {
        case InsertAction(c, assigns) =>
          c.foreach(refuseSide(_, tgtSet, "NOT MATCHED condition"))
          assigns.foreach(a =>
            refuseSide(a.value, tgtSet, "INSERT value"))
          MergeNotMatched(c.map(remapCond), remapAssigns(assigns).toMap)
        case other => fail(s"unsupported not-matched action $other")
      }
      val bySource = m.notMatchedBySourceActions.map {
        case UpdateAction(c, assigns, _) =>
          c.foreach(refuseSide(_, srcSet, "NOT MATCHED BY SOURCE condition"))
          assigns.foreach(a =>
            refuseSide(a.value, srcSet, "NOT MATCHED BY SOURCE value"))
          MergeBySource(c.map(remapCond), Some(remapAssigns(assigns).toMap))
        case DeleteAction(c) =>
          c.foreach(refuseSide(_, srcSet, "NOT MATCHED BY SOURCE condition"))
          MergeBySource(c.map(remapCond), None)
        case other => fail(s"unsupported by-source action $other")
      }
      GraftTxLogMergeDvCommand(path, timeTraveled, m.sourceTable,
        keyPairs, matched, notMatched, bySource, dedupeSource = false)
    }
  }
}

/** `DELETE FROM <txlog table> WHERE ...` — a deletion-vector soft delete
  * (the Delta-with-DV default: O(matched rows) sidecar bytes, zero
  * data-file churn; `CALL ... delete_where` remains the eager-rewrite
  * form). Returns the committed version.
  */
case class GraftTxLogDeleteCommand(path: String, timeTraveled: Boolean,
    cond: Column) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDmlExec.refuseTimeTravel(timeTraveled, path, "DELETE FROM")
    val snap = TxLog.commitWithRetry(path)(v =>
      TxLog.deleteWhereDV(spark, path, cond, v))
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(snap.version))
  }
}

/** `UPDATE <txlog table> SET ... WHERE ...` — the DV update commit (old
  * images soft-delete + new images append, one version).
  */
case class GraftTxLogUpdateCommand(path: String, timeTraveled: Boolean,
    cond: Column, set: Seq[(String, Column)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDmlExec.refuseTimeTravel(timeTraveled, path, "UPDATE")
    val snap = TxLog.commitWithRetry(path)(v =>
      TxLog.updateWhereDV(spark, path, cond, set.toMap, v))
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(snap.version))
  }
}

/** `MERGE INTO <txlog table> USING <source> ON ...` — executed as ONE
  * keyed DV commit (`replaceWhereKeysDV`): matched rows soft-delete,
  * their replacement images (update assignments over target⋈source) and
  * the not-matched insert images append. The source plan was analyzed by
  * Spark; it re-materializes at run time, so a retry after an optimistic
  * conflict re-reads it (the commitWithRetry re-derivation contract).
  */
case class GraftTxLogMergeCommand(path: String, timeTraveled: Boolean,
    source: LogicalPlan, keyPairs: Seq[(String, String)],
    matched: Option[Either[Seq[(String, Column)], Unit]],
    insert: Option[Seq[(String, Column)]]) extends LeafRunnableCommand {
  import TxLogSqlDml.{SourceAlias, TargetAlias}

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDmlExec.refuseTimeTravel(timeTraveled, path, "MERGE INTO")
    val src = StreamingSourceBridge.ofRows(spark, source)
    val tgtKeys = keyPairs.map(_._1)
    val srcKeysSel = keyPairs.map { case (t, s) => col(s).as(t) }
    val snap = TxLog.commitWithRetry(path) { v =>
      val tgt = TxLog.read(spark, path, asOf = Some(v))
      val tgtSchema = tgt.schema
      val joinCond = keyPairs.map { case (t, s) =>
        col(s"$TargetAlias.$t") === col(s"$SourceAlias.$s")
      }.reduce(_ && _)
      // Delta's MERGE cardinality contract: a target row matched by more
      // than one source row has no well-defined replacement. One
      // metadata-cheap probe: duplicated source keys that actually match
      // existing rows refuse the merge (duplicate keys that only INSERT
      // are legal - both rows insert, standard SQL).
      if (matched.isDefined) {
        val dupKeys = src.select(srcKeysSel: _*).groupBy(tgtKeys.map(col): _*)
          .agg(count(lit(1)).as("__graft_n")).filter(col("__graft_n") > 1L)
          .drop("__graft_n")
        val clash = tgt.join(dupKeys, tgtKeys, "left_semi").limit(1).count()
        require(clash == 0L,
          "graft-txlog: MERGE INTO source has duplicate key tuples " +
            "matching existing rows - replacing one row with several is " +
            "not an update (the Delta cardinality violation); de-duplicate " +
            "the source")
      }
      def images(assigns: Seq[(String, Column)], base: DataFrame): DataFrame = {
        val named = assigns.toMap
        base.select(tgtSchema.fields.toSeq.map { f =>
          named.getOrElse(f.name, TxLogDmlExec.defaultFor(f, matchedBase = base))
            .as(f.name)
        }: _*)
      }
      val updateImages: Option[DataFrame] = matched match {
        case Some(Left(assigns)) =>
          Some(images(assigns,
            tgt.alias(TargetAlias).join(src.alias(SourceAlias), joinCond,
              "inner")))
        case _ => None
      }
      val insertImages: Option[DataFrame] = insert.map { assigns =>
        images(assigns,
          src.alias(SourceAlias).join(tgt.alias(TargetAlias), joinCond,
            "left_anti"))
      }
      // matched rows are touched (replaced or deleted) only when a
      // matched action exists; an insert-only merge must leave them be
      val keysFrame =
        if (matched.isDefined) src.select(srcKeysSel: _*).distinct()
        else src.select(srcKeysSel: _*).limit(0)
      val newData = (updateImages.toSeq ++ insertImages.toSeq) match {
        case Nil => spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], tgtSchema)
        case parts => parts.reduce(_.unionByName(_))
      }
      TxLog.replaceWhereKeysDV(spark, path, keysFrame, tgtKeys, newData, v)
    }
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(snap.version))
  }
}

/** The GENERAL row-level MERGE (and the internal compilation target of
  * `DELETE/UPDATE ... WHERE (k) IN (SELECT ...)`): conditional/multiple
  * WHEN MATCHED clauses, conditional inserts, and WHEN NOT MATCHED BY
  * SOURCE, executed by `TxLog.mergeDV` as ONE deletion-vector commit.
  * Clause conditions/assignments are remapped Columns under the
  * `__graft_t`/`__graft_s` aliases (`TxLog.MergeTargetAlias`); Column
  * fields are invisible to `QueryPlan.expressions`, so the command stays
  * `resolved`. `dedupeSource` distincts the source key frame — set by the
  * IN-subquery rewrite (IN semantics collapse duplicates; a raw MERGE
  * source keeps them so the cardinality contract still fires).
  */
case class GraftTxLogMergeDvCommand(path: String, timeTraveled: Boolean,
    source: LogicalPlan, keyPairs: Seq[(String, String)],
    matched: Seq[graft.gold.TxLog.MergeMatched],
    notMatched: Seq[graft.gold.TxLog.MergeNotMatched],
    bySource: Seq[graft.gold.TxLog.MergeBySource],
    dedupeSource: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDmlExec.refuseTimeTravel(timeTraveled, path, "MERGE INTO")
    val src0 = StreamingSourceBridge.ofRows(spark, source)
    val src = if (dedupeSource) src0.distinct() else src0
    val snap = TxLog.commitWithRetry(path) { v =>
      TxLog.mergeDV(spark, path, src, keyPairs, matched, notMatched,
        bySource, v)
    }
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(snap.version))
  }
}

/** `ALTER TABLE <txlog table> ADD COLUMNS (...)` — metadata-only
  * `TxLog.addColumn` per column, then the CATALOG schema is re-pinned to
  * the evolved log schema so the next SELECT resolves it with no manual
  * re-registration (without the re-pin the stale-schema guard would
  * refuse reads — by design).
  */
case class GraftTxLogAddColumnsCommand(ident: TableIdentifier,
    cols: Seq[StructField]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(ident)
    val path = TxLogDmlExec.tablePathOf(meta)
    var version = 0L
    cols.foreach { f =>
      val snap = TxLog.commitWithRetry(path)(v =>
        TxLog.addColumn(spark, path, f.name, f.dataType, v))
      version = snap.version
    }
    // re-pin the catalog to the evolved schema (all-nullable: the shape a
    // file-source read serves, which is what registration stored)
    catalog.alterTableDataSchema(ident,
      graft.streaming.TxLogRelation.asNullableSchema(
        StructType(meta.schema.fields ++ cols)))
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(version))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — parser-intercepted (analysis
  * refuses the native node for V1 tables; see [[TxLogSqlDml]]), routed to
  * the metadata-only `TxLog.renameColumn` (column mapping), with the
  * catalog schema re-pinned so the next SELECT resolves the new name.
  */
case class GraftTxLogRenameColumnCommand(nameParts: Seq[String],
    from: String, to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (ident, path) = TxLogDmlExec.resolveTxLogTable(spark, nameParts,
      "ALTER TABLE ... RENAME COLUMN")
    val snap = TxLog.commitWithRetry(path)(v =>
      TxLog.renameColumn(path, from, to, v))
    TxLogDmlExec.repinCatalogSchema(spark, ident, path)
    Seq(Row(snap.version))
  }
}

/** `ALTER TABLE t DROP COLUMN(S) ...` — parser-intercepted twin, routed
  * to the metadata-only `TxLog.dropColumn` (tombstoned physical name:
  * old values can never resurrect into a re-added column).
  */
case class GraftTxLogDropColumnsCommand(nameParts: Seq[String],
    cols: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (ident, path) = TxLogDmlExec.resolveTxLogTable(spark, nameParts,
      "ALTER TABLE ... DROP COLUMN")
    var version = TxLog.currentVersion(path).get
    // re-pin the catalog in a finally: a LATER column's refusal
    // (constraint-referenced, partition column) after earlier columns
    // already committed must leave the catalog consistent with the LOG,
    // or every subsequent SELECT hits the schema-drift refusal
    try cols.foreach { c =>
      val present = TxLog.snapshot(path).schema.fieldNames.contains(c)
      if (present)
        version = TxLog.commitWithRetry(path)(v =>
          TxLog.dropColumn(path, c, v)).version
      else if (!ifExists) throw new IllegalArgumentException(
        s"ALTER TABLE ... DROP COLUMN: no column '$c' on $path")
    } finally TxLogDmlExec.repinCatalogSchema(spark, ident, path)
    Seq(Row(version))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (...)` — parser-intercepted
  * (see [[TxLogSqlDml]]: the analyzer refuses the native node for V1
  * tables before any injectable rule runs). Run-time verifies the target
  * is a graft-txlog catalog table; the CHECK text goes to
  * `TxLog.addConstraint` verbatim (existing rows must already satisfy
  * it — one scan, the Delta contract).
  */
case class GraftTxLogAddConstraintCommand(nameParts: Seq[String],
    constraintName: String, checkSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (ident, path) = TxLogDmlExec.resolveTxLogTable(spark, nameParts,
      "ADD CONSTRAINT")
    val _ = ident
    val snap = TxLog.commitWithRetry(path)(v =>
      TxLog.addConstraint(spark, path, constraintName, checkSql, v))
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(snap.version))
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` — parser-intercepted twin. */
case class GraftTxLogDropConstraintCommand(nameParts: Seq[String],
    constraintName: String, ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (ident, path) = TxLogDmlExec.resolveTxLogTable(spark, nameParts,
      "DROP CONSTRAINT")
    val _ = ident
    if (ifExists && !TxLog.snapshot(path).constraints.contains(constraintName))
      return Seq(Row(TxLog.currentVersion(path).get))
    val snap = TxLog.commitWithRetry(path)(v =>
      TxLog.dropConstraint(path, constraintName, v))
    TxLogDmlExec.refresh(spark, path)
    Seq(Row(snap.version))
  }
}

private[plans] object TxLogDmlExec {

  def refuseTimeTravel(timeTraveled: Boolean, path: String,
      stmt: String): Unit =
    require(!timeTraveled,
      s"graft-txlog: this relation reads $path pinned at a versionAsOf/" +
        s"timestampAsOf option - a frozen view cannot be a $stmt target; " +
        "register the table without time-travel options")

  /** Typed default for a target column an action did not assign: for
    * UPDATE images the original value rides in under the target alias;
    * for INSERT images there is no original - typed NULL (the analyzer
    * expands `INSERT *` to full assignment lists, so this only triggers
    * for explicit partial column lists).
    */
  def defaultFor(f: StructField, matchedBase: DataFrame): Column = {
    val qualified = s"${TxLogSqlDml.TargetAlias}.${f.name}"
    if (matchedBase.columns.contains(f.name) &&
        scala.util.Try(matchedBase(qualified)).isSuccess)
      col(qualified)
    else lit(null).cast(f.dataType)
  }

  /** The TxLog table directory of a catalog table: the `path` option when
    * present, else the table location — both arrive as Hadoop URI strings
    * (`file:/...`), centrally normalized by `TxLogSource.tablePath`.
    */
  def tablePathOf(meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)
      : String = {
    val raw = meta.storage.properties.get("path")
      .orElse(meta.storage.locationUri.map(_.toString))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-txlog: catalog table ${meta.identifier} has no path/location"))
    TxLogSource.tablePath(Map("path" -> raw))
  }

  /** Resolve a (possibly qualified) table name to a graft-txlog catalog
    * table, refusing everything else with the message Spark's own
    * unsupported-operation path would have produced.
    */
  def resolveTxLogTable(spark: SparkSession, nameParts: Seq[String],
      stmt: String): (TableIdentifier, String) = {
    val ident = nameParts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case other => throw new IllegalArgumentException(
        s"graft-txlog: cannot resolve table name ${other.mkString(".")}")
    }
    val meta =
      try spark.sessionState.catalog.getTableMetadata(ident)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$stmt: table ${nameParts.mkString(".")} not found in the " +
            "session catalog", e)
      }
    require(meta.provider.exists(_.equalsIgnoreCase("graft-txlog")),
      s"$stmt is not supported for tables of provider " +
        s"${meta.provider.getOrElse("(none)")} - only graft-txlog catalog " +
        "tables support CHECK constraints here")
    (ident, tablePathOf(meta))
  }

  def refresh(spark: SparkSession, path: String): Unit = {
    spark.catalog.refreshByPath(path)
    CatalogBridge.invalidateCachedRelations(spark)
  }

  /** Re-pin the catalog table's schema to the LOG's actual current
    * logical schema (the authority) and refresh — the one call that
    * leaves the catalog consistent no matter how much of a multi-step
    * DDL completed before a refusal. alterTable, not
    * alterTableDataSchema: the latter refuses renames and drops outright
    * ("We don't support dropping columns yet").
    */
  def repinCatalogSchema(spark: SparkSession, ident: TableIdentifier,
      path: String): Unit = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(ident)
    catalog.alterTable(meta.copy(schema =
      graft.streaming.TxLogRelation.asNullableSchema(TxLog.snapshot(path).schema)))
    refresh(spark, path)
  }
}

/** Delegating parser that intercepts the two constraint DDL statements
  * (see [[TxLogSqlDml]] for why the parser is the only viable seam) and
  * passes everything else through verbatim.
  */
class GraftSqlParser(
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
  extends org.apache.spark.sql.catalyst.parser.ParserInterface {

  /** Best-effort parse-time SCOPE check: intercept only names the
    * SESSION catalog can already prove are graft-txlog tables —
    * everything else (other catalogs, temp views, other providers,
    * missing tables) falls through to the ORIGINAL node so Spark's own
    * resolution/refusal runs. Without this the parser globally replaced
    * native behavior for every table kind (a genuine DSv2 catalog table
    * supporting RENAME COLUMN would have gotten graft's "not found" —
    * the round-14 ADVICE finding). The commands re-verify at run time
    * regardless; a parse-time miss only costs the native error message.
    */
  private def isGraftTable(parts: Seq[String]): Boolean = {
    val identOpt = parts match {
      case Seq(t) => Some(TableIdentifier(t))
      case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        Some(TableIdentifier(t, Some(db)))
      case _ => None
    }
    identOpt.exists { ident =>
      org.apache.spark.sql.SparkSession.getActiveSession.exists { s =>
        try s.sessionState.catalog.getTableMetadata(ident)
          .provider.exists(_.equalsIgnoreCase("graft-txlog"))
        catch { case scala.util.control.NonFatal(_) => false }
      }
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(sqlText) match {
      // RENAME/DROP COLUMN refuse during ANALYSIS for V1 tables (same
      // class as the constraint DDL — probed; no injectable rule runs
      // first), so they ride the parser too — scoped to proven
      // graft-txlog targets
      case r: RenameColumn =>
        r.table match {
          case u: UnresolvedTable if isGraftTable(u.multipartIdentifier) =>
            if (r.column.name.length == 1)
              GraftTxLogRenameColumnCommand(u.multipartIdentifier,
                r.column.name.head, r.newName)
            else throw new IllegalArgumentException(
              "graft-txlog: RENAME COLUMN on a nested field is not " +
                "supported - only top-level columns map")
          case _ => r
        }
      case d: DropColumns =>
        d.table match {
          case u: UnresolvedTable if isGraftTable(u.multipartIdentifier) =>
            if (d.columnsToDrop.forall(_.name.length == 1))
              GraftTxLogDropColumnsCommand(u.multipartIdentifier,
                d.columnsToDrop.map(_.name.head), d.ifExists)
            else throw new IllegalArgumentException(
              "graft-txlog: DROP COLUMN on a nested field is not " +
                "supported - only top-level columns map")
          case _ => d
        }
      case a: AddCheckConstraint =>
        val ident = a.child.collectFirst {
          case u: UnresolvedRelation => u.multipartIdentifier
        }.getOrElse(Seq(a.checkConstraint.tableName))
        if (isGraftTable(ident))
          GraftTxLogAddConstraintCommand(ident, a.checkConstraint.name,
            a.checkConstraint.condition)
        else a
      case d: DropConstraint =>
        d.child match {
          case u: UnresolvedTable if isGraftTable(u.multipartIdentifier) =>
            require(!d.cascade,
              "graft-txlog: DROP CONSTRAINT ... CASCADE is not supported " +
                "(CHECK constraints have no dependents)")
            GraftTxLogDropConstraintCommand(u.multipartIdentifier, d.name,
              d.ifExists)
          case _ => d
        }
      case other => other
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}
