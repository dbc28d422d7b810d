package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.gold.TxLog
import graft.streaming.TxLogDvRelation

/** Optimizer rule: expand a [[graft.streaming.TxLogDvRelation]]
  * placeholder (a `graft-txlog` BATCH read of a snapshot with ACTIVE
  * deletion vectors) into the NATIVE DV read plan — the same
  * parquet-scan → broadcast-LeftAnti(DV rows) plan `TxLog.read` builds —
  * instead of the placeholder's `TableScan` fallback, which is correct
  * everywhere but pays an RDD boundary (Row conversion both ways, a
  * codegen fence, and an opaque leaf no later rule can see through).
  *
  * After expansion the user's filter sits above an ordinary LeftAnti
  * join over a parquet relation, so the SAME fixpoint batch pushes it
  * down to the scan (LeftAnti passes left-only predicates) and the
  * TxLog file index prunes the DATA side — the composition the
  * `q_o_txlog_stats_dv` gate pins. Unconditional (no
  * arming conf): the placeholder itself proves the read is a TxLog DV
  * read; expanding is never wrong, only faster.
  *
  * The expanded subplan's fresh attribute ids are re-exposed under the
  * placeholder's original output ids via an aliasing Project, so parent
  * operators' references stay resolved (the standard splice discipline).
  * The snapshot version was pinned in the placeholder at relation
  * construction, so expansion and fallback serve identical data.
  */
object ExpandTxLogDvScan extends Rule[LogicalPlan] {

  /** Splice `native`'s analyzed plan under the relation's output ids
    * `out` (a V1 `LogicalRelation`'s or a V2 relation's). Alignment is BY
    * NAME, not position — the expanded plan's column order comes from
    * parquet footer merging / union alignment and is not guaranteed to
    * match the placeholder's declared schema order; a positional zip
    * would silently serve values under the wrong names.
    */
  private def splice(out: Seq[Attribute],
      native: org.apache.spark.sql.DataFrame): LogicalPlan = {
    // The native plan is ANALYZED but not hint-eliminated: its broadcast()
    // hints are still ResolvedHint nodes, and this rule runs AFTER the
    // optimizer's own EliminateResolvedHint batch — splicing them in raw
    // leaves hints the planner refuses ("ResolvedHint operator should
    // have been replaced"). Round-13 LATENT BUG, live exactly when the
    // hinted DV side is a UNION of >= 2 sidecar files (a single-relation
    // hint happened to survive planning): apply Spark's own elimination
    // here so hints land on the joins as JoinHints, same as a top-level
    // query.
    val expanded = org.apache.spark.sql.catalyst.optimizer
      .EliminateResolvedHint(
        org.apache.spark.sql.graftbridge.StreamingSourceBridge
          .analyzedPlan(native))
    val byName = expanded.output.map(a => a.name -> a).toMap
    val aliases = out.map { o =>
      val n = byName.getOrElse(o.name, throw new IllegalStateException(
        s"ExpandTxLogDvScan: native plan lacks column '${o.name}' the " +
          s"relation declared (has: ${expanded.output.map(_.name).mkString(", ")})"))
      // cast when the native type differs from the declared one (a
      // re-declare-widened table read through narrower footers): the
      // alias must carry the TYPE the parents' references expect, or the
      // spliced plan is silently type-inconsistent
      val child: org.apache.spark.sql.catalyst.expressions.Expression =
        if (n.dataType == o.dataType) n
        else org.apache.spark.sql.catalyst.expressions.Cast(n, o.dataType)
      Alias(child, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }
    Project(aliases, expanded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // V2 constraint DDL validates existing data through a plan that MUST
    // keep the DataSourceV2Relation visible — the native strategy pattern-
    // matches it to recover the catalog + identifier for alterTable;
    // expanding underneath leaves an unplannable AddCheckConstraint
    // (planner assertion, caught by GraftCatalogSpec). The validation
    // scan runs through the V1Scan fallback — DDL-time cost, acceptable.
    case _: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
      plan
    case _ => expand(plan)
  }

  private def expand(plan: LogicalPlan): LogicalPlan = plan.transform {
    case rel @ LogicalRelation(dv: TxLogDvRelation, _, _, _, _) =>
      val session = SparkSession.active
      splice(rel.output, TxLog.read(session, dv.path, asOf = Some(dv.version)))
    case rel @ LogicalRelation(cdf: graft.streaming.TxLogCdfRelation, _, _, _, _) =>
      val session = SparkSession.active
      splice(rel.output,
        TxLog.changes(session, cdf.path, cdf.fromExclusive, cdf.to))
    // the DSv2 catalog's relations expand to the same native plan — the
    // V1Scan fallback inside GraftTable only serves extension-less
    // sessions (the splice discipline is identical: V2 relation output
    // ids re-exposed over the analyzed TxLog.read plan)
    case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if rel.table.isInstanceOf[graft.sqlfront.GraftTable] =>
      val t = rel.table.asInstanceOf[graft.sqlfront.GraftTable]
      val session = SparkSession.active
      splice(rel.output,
        TxLog.read(session, t.dir, asOf = Some(t.servedVersion)))
  }
}
