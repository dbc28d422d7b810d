package graft.plans

import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation
}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.gold.{StatsIndex, StatsPruning}

/** Optimizer rule: AUTOMATIC file skipping from the `gold.StatsIndex`
  * min/max sidecar — the planner-side half of a lakehouse data-skipping
  * stack over plain parquet. A user writes the ordinary
  * `spark.read.parquet(table).filter(col <op> literal)`; when the table
  * root holds a `_graft_stats` directory the scan prunes to the files
  * whose [min, max] box can satisfy the filter. Nothing is set to arm it:
  * the sidecar's presence does.
  *
  * Eligible shape: a `Filter` DIRECTLY over a parquet relation listed by
  * an `InMemoryFileIndex` with a single root (a plain directory read;
  * a TxLog read's `TxLogFileIndex` is never touched), with at least one
  * conjunct [[StatsPruning.extractBounds]] can use. Only such a plan
  * looks for the sidecar, one `listStatus` per relation; a TreeNodeTag
  * keeps the optimizer's fixed-point iterations from looking again.
  *
  * The rewrite keeps the relation's own file index and wraps it
  * ([[StatsIndex.pruning]]): the listing still decides which files exist
  * and the sidecar only drops those its bounds prove disjoint, so a stale
  * sidecar costs skipping, never rows. `SkipIndexRuleSpec` and
  * `ZOrderSpec` assert pruned ≡ unpruned; `q_x_skip_index_auto` runs it
  * through the DuckDB oracle gate.
  */
object RewriteSkipIndexScan extends Rule[LogicalPlan] with PredicateHelper {

  private val Checked = TreeNodeTag[Boolean]("graft.skipIndex.checked")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        rel @ LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _))
        if rel.getTagValue(Checked).isEmpty &&
          fsRel.location.isInstanceOf[InMemoryFileIndex] &&
          fsRel.location.rootPaths.size == 1 &&
          fsRel.fileFormat.isInstanceOf[ParquetFileFormat] &&
          StatsPruning.extractBounds(splitConjunctivePredicates(cond)).nonEmpty =>
      rel.setTagValue(Checked, true)
      val session = fsRel.sparkSession
      StatsIndex.pruning(session, fsRel.location)
        .fold(f: LogicalPlan) { idx =>
          Filter(cond, rel.copy(relation = fsRel.copy(location = idx)(session)))
        }
  }
}
