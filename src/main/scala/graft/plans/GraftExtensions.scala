package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{
  ArrayIntersect, BinaryExpression, Expression, Size
}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `|A ∩ B|` for long arrays WITHOUT materializing the intersection.
  *
  * `size(array_intersect(a, b))` — the natural composed form — allocates an
  * intermediate ArrayData per row through the generic (boxed,
  * null-tolerant) set path, only to take its length. For the near-dup
  * operators this runs once per candidate pair, i.e. hundreds of millions
  * of times at corpus scale; profiling the Jaccard stage showed it
  * dominating. This expression copies both arrays into primitive long[],
  * sorts, and merge-counts distinct common elements — no boxing, no
  * intermediate array, cache-linear.
  *
  * Same semantics as the composed form for non-null long arrays (distinct
  * common element count); null elements are ignored (our shingle arrays
  * never contain them — guarded by the rewrite rule only firing on
  * `containsNull=false` arrays).
  */
case class IntersectCount(left: Expression, right: Expression,
    assumeSorted: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.merge(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], assumeSorted)

  /** Whole-stage codegen: the hottest expression in the near-dup stage must
    * not drop the surrounding pipeline out of codegen (CodegenFallback
    * forces boxed InternalRow evaluation for the whole projection). The
    * generated code calls the same static merge the interpreted path uses —
    * one tight primitive loop, no per-row allocation beyond the long[]
    * copies.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.IntersectCount.merge($a, $b, $assumeSorted);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCount =
    copy(left = l, right = r)
}

object IntersectCount {
  /** Distinct-common-element count of two long arrays; static so generated
    * Java and the interpreted path share one implementation (the Scala
    * companion emits a static forwarder on the class).
    */
  def merge(a: ArrayData, b: ArrayData, assumeSorted: Boolean): Int = {
    // Sorted inputs (NearDup sorts each shingle set ONCE) merge straight
    // off the ArrayData: no per-pair long[] copies — a document in k
    // candidate pairs was otherwise COPIED k times (2 × 8·s bytes per
    // pair, gigabytes of allocation churn at candidate scale; round-16
    // profiling). Unsorted callers still pay one copy+sort per side.
    if (assumeSorted) {
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var n = 0
      var last = 0L; var hasLast = false
      while (i < na && j < nb) {
        val va = a.getLong(i); val vb = b.getLong(j)
        if (va < vb) i += 1
        else if (va > vb) j += 1
        else {
          if (!hasLast || va != last) { n += 1; last = va; hasLast = true }
          i += 1; j += 1
        }
      }
      n
    } else {
      val xa = a.toLongArray()
      val xb = b.toLongArray()
      java.util.Arrays.sort(xa)
      java.util.Arrays.sort(xb)
      var i = 0; var j = 0; var n = 0
      var last = 0L; var hasLast = false
      while (i < xa.length && j < xb.length) {
        val va = xa(i); val vb = xb(j)
        if (va < vb) i += 1
        else if (va > vb) j += 1
        else {
          if (!hasLast || va != last) { n += 1; last = va; hasLast = true }
          i += 1; j += 1
        }
      }
      n
    }
  }
}

/** Optimizer rule: rewrite `size(array_intersect(a, b))` to IntersectCount
  * when both sides are non-null long arrays. Purely a physical-cost
  * rewrite — values are identical, so oracle comparisons are unaffected.
  */
object RewriteIntersectSize extends Rule[LogicalPlan] {
  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, false) => true
    case _                          => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // legacySizeOfNull=false only: the legacy mode returns -1 for null
    // inputs, which IntersectCount (NULL) would silently change.
    case Size(ArrayIntersect(a, b), false) if isLongArray(a) && isLongArray(b) =>
      IntersectCount(a, b)
  }
}

/** Optimizer rule: rewrite a pure range-predicate INNER join — which Spark
  * can only plan as a BroadcastNestedLoopJoin (quadratic) — into the
  * bucketized equi-join `operators.RangeJoin` builds by hand: explode the
  * bounding side to the fixed-width buckets its interval covers, bucket
  * the bounded side's point, equi-join on the bucket id, and re-apply the
  * ORIGINAL condition as a residual filter (so any mix of strict and
  * non-strict bounds keeps exact semantics — the bucket match is only a
  * candidate superset).
  *
  * Fires ONLY when the user sets `spark.graft.rangeJoin.bucketWidth` (> 0):
  * the width is a data-scale decision (≈ the typical interval span) the
  * engine cannot guess. Conditions to fire: inner join; no cross-side
  * equality conjunct (those already hash-join fine); a conjunct pair
  * bounding one side's integral expression below AND above by integral
  * expressions from the other side. Intervals spanning ≥
  * [[graft.operators.RangeJoin.MaxBucketsPerInterval]] buckets raise a
  * loud per-row error instead of silently re-quadratizing.
  *
  * The rewritten join carries a cross-side equality, so the rule cannot
  * re-fire on its own output (safe under the optimizer's fixed-point).
  */
object RewriteRangeJoin extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, JoinHint, Project}
  import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}

  private val WidthKey = "spark.graft.rangeJoin.bucketWidth"
  private val MaxBuckets = graft.operators.RangeJoin.MaxBucketsPerInterval.toLong

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** Exact floor-division bucket id: x − pmod(x, w) is an exact multiple of
    * w, so integral division of it is exact for any sign — no double
    * rounding. In LONG the subtraction underflows for x within w of
    * Long.MinValue (an ANSI arithmetic error), so THOSE rows take a
    * DECIMAL(38,0) branch; all other rows run pure LONG arithmetic — the
    * earlier all-DECIMAL version put a Decimal pmod+sub+div on every
    * exploded bucket row, measured ~3x slower on interval-overlap joins.
    * Both branches are LongType (IntegralDivide), so bucket ids equi-join
    * as plain longs. Twin of `operators.RangeJoin.bucketOf` — keep them
    * identical.
    */
  private def bucketOf(e: Expression, w: Long): Expression = {
    val lng  = asLong(e)
    val wl   = Literal(w)
    val fast = IntegralDivide(Subtract(lng, Pmod(lng, wl)), wl)
    val dec  = Cast(lng, org.apache.spark.sql.types.DecimalType(38, 0))
    val wd   = Cast(wl, org.apache.spark.sql.types.DecimalType(38, 0))
    val slow = IntegralDivide(Subtract(dec, Pmod(dec, wd)), wd)
    CaseWhen(Seq((GreaterThanOrEqual(lng, Literal(Long.MinValue + w)), fast)),
      Some(slow))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = conf.getConfString(WidthKey, "").trim
    if (width.isEmpty) return plan
    // a malformed width names the CONFIG instead of a bare
    // NumberFormatException that would fail every query in the session
    val w = try width.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"RewriteRangeJoin: config $WidthKey must be an integer, got '$width'")
    }
    if (w <= 0) return plan // explicit non-positive width = rule off
    plan.transform {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        rewrite(j, l, r, cond, w).getOrElse(j)
    }
  }

  private def rewrite(
      j: Join,
      l: LogicalPlan,
      r: LogicalPlan,
      cond: Expression,
      w: Long
  ): Option[LogicalPlan] = {
    // Some(true) = references only the left side, Some(false) = only the
    // right; None = literals-only or mixed (not a join-shaping expression)
    def sideOf(e: Expression): Option[Boolean] =
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(l.outputSet)) Some(true)
      else if (e.references.subsetOf(r.outputSet)) Some(false)
      else None

    val conjuncts = splitConjunctivePredicates(cond)
    val hasCrossEqui = conjuncts.exists {
      case EqualTo(a, b)       => sideOf(a).isDefined && sideOf(b).isDefined && sideOf(a) != sideOf(b)
      case EqualNullSafe(a, b) => sideOf(a).isDefined && sideOf(b).isDefined && sideOf(a) != sideOf(b)
      case _                   => false
    }
    if (hasCrossEqui) return None

    // each comparison read both ways: (bounded expr, bound, isLowerBound)
    val views = conjuncts.flatMap {
      case GreaterThanOrEqual(a, b) => Seq((a, b, true), (b, a, false))
      case GreaterThan(a, b)        => Seq((a, b, true), (b, a, false))
      case LessThanOrEqual(a, b)    => Seq((a, b, false), (b, a, true))
      case LessThan(a, b)           => Seq((a, b, false), (b, a, true))
      case _                        => Nil
    }
    val candidates = for {
      (p, lo, true) <- views
      if isIntegral(p) && isIntegral(lo)
      pSide  <- sideOf(p).toSeq
      loSide <- sideOf(lo).toSeq
      if pSide != loSide
      (p2, hi, false) <- views
      if p2.semanticEquals(p) && isIntegral(hi)
      hiSide <- sideOf(hi).toSeq
      if hiSide == loSide
    } yield (p, pSide, lo, hi)

    candidates.headOption.map { case (point, pointOnLeft, lo, hi) =>
      val (pointPlan, ivPlan) = if (pointOnLeft) (l, r) else (r, l)
      val pb = Alias(bucketOf(point, w), "__rj_bucket")()
      val pointProj = Project(pointPlan.output :+ pb, pointPlan)
      val blo = bucketOf(lo, w)
      val bhi = bucketOf(hi, w)
      // Sequence is TimeZoneAwareExpression: without an explicit zone it
      // reports unresolved even over longs, failing plan validation
      val seq = Sequence(blo, bhi, None, Some(conf.sessionLocalTimeZone))
      // Inverted intervals (lo > hi) are EMPTY and must be checked first:
      // Sequence would otherwise DESCEND (default step -1) and the span
      // guard is negative for them — a grossly inverted interval would
      // explode a huge garbage sequence straight past it.
      val guarded = CaseWhen(Seq(
        (GreaterThan(asLong(lo), asLong(hi)),
          Literal.create(Array.empty[Long], seq.dataType)),
        (GreaterThanOrEqual(Subtract(bhi, blo), Literal(MaxBuckets)),
          Cast(new RaiseError(Literal(
            s"RewriteRangeJoin: interval spans >= $MaxBuckets buckets of width $w - " +
              s"raise $WidthKey")), seq.dataType))),
        seq)
      val bAttr = AttributeReference("__rj_bucket_iv", LongType, nullable = false)()
      val gen = Generate(Explode(guarded), Nil, outer = false, None, Seq(bAttr), ivPlan)
      val (newL, newR) = if (pointOnLeft) (pointProj, gen) else (gen, pointProj)
      val rejoined = Join(newL, newR, Inner,
        Some(EqualTo(pb.toAttribute, bAttr)), JoinHint.NONE)
      Project(j.output, Filter(cond, rejoined))
    }
  }
}

/** Session extension wiring (`GraftSession` installs this). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteIntersectSize)
    e.injectOptimizerRule(_ => RewriteRangeJoin)
    e.injectOptimizerRule(_ => RewriteSkipIndexScan)
    // expands the graft-txlog placeholders into the native read plan,
    // whose data-side scan the TxLog file index then prunes
    e.injectOptimizerRule(_ => ExpandTxLogDvScan)
    // SQL row-level DML + ALTER TABLE over catalog TxLog tables: a
    // post-hoc resolution rule (DELETE/UPDATE/MERGE analyze cleanly over
    // the V1 relation and only execution refuses — TxLogSqlDml's pinned
    // seam evidence) plus a delegating parser for the two constraint DDL
    // statements the analyzer refuses before any injectable rule runs
    e.injectPostHocResolutionRule(session => RewriteTxLogDml(session))
    // the parser is built once per session state, child sessions too:
    // the one per-session hook, so the Hadoop conf is made lean here
    e.injectParser { (session, delegate) =>
      graft.core.GraftSession.dropPropertySources(session.sparkContext)
      new GraftSqlParser(delegate)
    }
    SqlFunctions.install(e)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Direct column API for IntersectCount (library hot paths call this;
    * the optimizer rule covers composed user queries). Precondition:
    * null-free long arrays; set `assumeSorted` ONLY when the producer
    * guarantees ascending order (e.g. via array_sort).
    */
  def intersect_count(a: Column, b: Column, assumeSorted: Boolean = false): Column =
    ColumnBridge.column(
      IntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b), assumeSorted))
}
