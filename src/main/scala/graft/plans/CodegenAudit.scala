package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** Detects the SILENT interpreted-fallback failure mode of the graft native
  * kernels — the one production incident class a 100 TB deployment cannot
  * see from results alone.
  *
  * The kernels (IntersectCount, BpeEncodeTokens, WordNgramsNative, …) are
  * written with `doGenCode` precisely so the hot similarity/curation
  * pipelines stay inside WholeStageCodegen. Spark can still end up running
  * them interpreted, with zero functional signal and a 10–25x slowdown
  * (measured: minhash 9 s → 417 s driver-side when a long-lived JVM lost
  * the compiled form), through three distinct mechanisms:
  *
  *   1. PLAN-LEVEL EVICTION: `CollapseCodegenStages` leaves a node out of
  *      any WSCG span (e.g. a CodegenFallback expression elsewhere in the
  *      same projection evicts the whole node). Visible in the plan tree.
  *   2. COMPILE-TIME FALLBACK: `WholeStageCodegenExec.doExecute` catches a
  *      Janino failure and silently executes the child interpreted.
  *   3. HUGE-METHOD FALLBACK: the generated method exceeds
  *      `spark.sql.codegen.hugeMethodLimit`, so Spark logs one INFO line
  *      and executes interpreted (and below the limit, a method over
  *      HotSpot's 8000-byte `-XX:-DontCompileHugeMethods` threshold never
  *      JITs — reported here as a warning-grade finding).
  *
  * The audit walks the EXECUTED plan (AQE-final): mechanism 1 falls out of
  * the walk; mechanisms 2–3 are re-derived exactly the way `doExecute`
  * decides them — `doCodeGen()` + `CodeGenerator.compile` compared against
  * the same conf. The compile is a cache hit for an already-executed plan
  * only while the plan's classes are still in Spark's JVM-wide codegen
  * cache (`spark.sql.codegen.cache.maxEntries`, sized by
  * [[graft.core.GraftSession]]); then auditing is cheap, otherwise it
  * re-compiles. `Verify` and `Bench` run this after every gated query and
  * print a loud `[codegen-audit]` line on any finding, so a kernel going
  * interpreted shows up in the round artifacts, not in a profiler three
  * weeks later.
  */
object CodegenAudit {

  /** One detected interpreted-execution risk for a graft kernel.
    * `severity` is "error" for definitely-interpreted (mechanisms 1–2 and
    * over-the-conf-limit 3) and "warn" for compiles-but-never-JITs.
    */
  final case class Finding(kernel: String, node: String, reason: String,
      severity: String) {
    override def toString = s"[$severity] $kernel in $node: $reason"
  }

  /** Graft kernels are exactly the Expression classes living in graft
    * packages — name-based so the audit never goes stale against the
    * kernel list.
    */
  private def kernelNames(p: SparkPlan): Seq[String] =
    p.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.") =>
        e.getClass.getSimpleName
    }).distinct

  /** HotSpot refuses to JIT methods over 8000 bytecode bytes regardless of
    * hotness (-XX:-DontCompileHugeMethods); Spark's own conf default
    * (65535) only guards against Janino's hard limit, so code between the
    * two runs forever in the bytecode interpreter.
    */
  private val HotspotHugeMethodLimit = 8000

  /** Audit an already-executed DataFrame. Call AFTER the action so the AQE
    * final plan (the plan that actually ran) is the one inspected.
    */
  def audit(df: DataFrame): Seq[Finding] = audit(df.queryExecution.executedPlan)

  def audit(plan: SparkPlan): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer[Finding]()
    val hugeLimit = SQLConf.get.hugeMethodLimit

    def walk(p: SparkPlan, inWscg: Boolean): Unit = p match {
      case w: WholeStageCodegenExec =>
        val ks = kernelNames(w.child)
        if (ks.nonEmpty) {
          // Re-derive doExecute's own fallback decision for this span.
          try {
            val (_, source) = w.doCodeGen()
            val (_, stats) = CodeGenerator.compile(source)
            if (stats.maxMethodCodeSize > hugeLimit)
              ks.foreach(k => out += Finding(k, w.nodeName,
                s"generated method ${stats.maxMethodCodeSize} bytes > " +
                  s"hugeMethodLimit $hugeLimit - Spark executed this span " +
                  "INTERPRETED", "error"))
            else if (stats.maxMethodCodeSize > HotspotHugeMethodLimit)
              ks.foreach(k => out += Finding(k, w.nodeName,
                s"generated method ${stats.maxMethodCodeSize} bytes > " +
                  s"HotSpot JIT limit $HotspotHugeMethodLimit - compiled " +
                  "but runs in the bytecode interpreter", "warn"))
          } catch {
            case e: Throwable =>
              ks.foreach(k => out += Finding(k, w.nodeName,
                s"codegen compilation failed (${e.getClass.getSimpleName}: " +
                  s"${String.valueOf(e.getMessage).take(200)}) - Spark " +
                  "executed this span INTERPRETED", "error"))
          }
        }
        walk(w.child, inWscg = true)
      case i: InputAdapter          => walk(i.child, inWscg = false)
      case a: AdaptiveSparkPlanExec =>
        // Only the FINAL adaptive plan has been through the codegen
        // collapse; auditing a not-yet-executed AQE plan would read its
        // pre-collapse form and report false "outside WSCG" positives.
        if (a.isFinalPlan) walk(a.executedPlan, inWscg = false)
      case qs: QueryStageExec       => walk(qs.plan, inWscg = false)
      // A cached-relation scan is a leaf of THIS plan, but the plan that
      // BUILDS the cache executes too (once) — a kernel interpreted inside
      // the cache build was the audit's one blind spot (minhash's
      // persist()ed shingle+signature projection lives exactly there).
      case imts: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        walk(imts.relation.cachedPlan, inWscg = false)
      // Leaf scans LIST pushed-down dataFilters among their expressions but
      // never row-evaluate them (the residual FilterExec above does) — a
      // kernel appearing there is display metadata, not an execution path.
      case leaf: org.apache.spark.sql.execution.LeafExecNode =>
        leaf.subqueries.foreach(walk(_, inWscg = false))
      case other =>
        if (!inWscg) kernelNames(other).foreach(k =>
          out += Finding(k, other.nodeName,
            "outside any WholeStageCodegen span - kernel runs through the " +
              "interpreted eval path", "error"))
        other.children.foreach(walk(_, inWscg))
        other.subqueries.foreach(walk(_, inWscg = false))
    }

    walk(plan, inWscg = false)
    out.toSeq
  }

  /** Audit and print one loud line per finding (stderr). Returns the
    * error-grade finding count so mains can surface a summary. Never
    * throws — an audit crash must not fail a correctness gate over a
    * diagnostics feature.
    */
  def report(name: String, plan: SparkPlan): Int =
    try {
      val fs = audit(plan)
      fs.foreach(f => System.err.println(s"[codegen-audit] $name $f"))
      fs.count(_.severity == "error")
    } catch {
      case e: Throwable =>
        System.err.println(s"[codegen-audit] $name audit itself failed: $e")
        0
    }

  /** Listener that audits every completed action's EXECUTED plan — the one
    * that actually ran, AQE-final, including the separate QueryExecution a
    * DataFrameWriter creates (which `df.queryExecution` never sees). The
    * enclosing main advances `current` so findings are attributed to the
    * gated query in flight; it rides the async listener bus, so drain
    * (ListenerBridge) before reading `errors`.
    */
  final class AuditListener
      extends org.apache.spark.sql.util.QueryExecutionListener {
    val current = new java.util.concurrent.atomic.AtomicReference[String]("<setup>")
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      errors.addAndGet(report(current.get, qe.executedPlan))
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Register an audit listener on the session; returns it so the caller
    * can attribute queries and read the error count.
    */
  def attach(spark: org.apache.spark.sql.SparkSession): AuditListener = {
    val l = new AuditListener
    spark.listenerManager.register(l)
    l
  }

  /** Spec hook: assert no error-grade findings (warn-grade — compiled but
    * beyond HotSpot's JIT threshold — is a perf smell, not a wrong
    * execution mode, and some legitimately wide spans trip it).
    */
  def assertInCodegen(df: DataFrame): Unit = {
    val errs = audit(df).filter(_.severity == "error")
    require(errs.isEmpty,
      s"graft kernels executed interpreted:\n  ${errs.mkString("\n  ")}")
  }
}
