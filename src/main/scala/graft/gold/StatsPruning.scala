package graft.gold

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ONE file-skipping decision: a scan drops a file only when the
  * file's known [min, max] bounds PROVE some pushed `col <op> literal`
  * conjunct false. Both skipping indexes call [[prune]]:
  * [[TxLogFileIndex]] with the bounds the log recorded, and
  * [[StatsIndex]]'s wrapper around a plain parquet directory's own file
  * index with the `_graft_stats` sidecar's bounds. A file with no known
  * bounds for a constrained column is always kept (Delta's rule for a
  * file without stats), and the row-level filter always re-applies above
  * the scan, so pruning drops I/O, never rows.
  */
object StatsPruning extends PredicateHelper {

  /** One comparable stat/literal value. Two domains: LONG (integral
    * columns; DATE as epoch days, TIMESTAMP_NTZ as epoch micros —
    * Catalyst's own literal representations) and STRING (compared in
    * UTF8String BINARY order — Spark's min/max on strings aggregate in
    * UTF-8 byte order, and java.lang.String's UTF-16 order disagrees for
    * supplementary-plane characters, which would make a skip unsound
    * exactly on emoji-adjacent boundaries). Cross-domain comparisons
    * never prune.
    */
  sealed trait BV {
    def lt(o: BV): Boolean = (this, o) match {
      case (BvLong(x), BvLong(y)) => x < y
      case (BvStr(x), BvStr(y)) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
      case _ => false
    }
  }
  final case class BvLong(v: Long) extends BV
  final case class BvStr(v: String) extends BV

  /** [min, max] of one column; None = an open (unknown) side. */
  type Bounds = (Option[BV], Option[BV])

  /** Intersected [lo, hi] constraint per column from the usable conjuncts
    * (`=`, `<`, `<=`, `>`, `>=` between a column and a non-null literal,
    * either operand order) on integral, DATE, STRING or TIMESTAMP_NTZ
    * columns — the stat classes Delta/Iceberg prune on. Strict bounds are
    * relaxed to inclusive (sound at file level: a superset survives).
    */
  def extractBounds(conjuncts: Seq[Expression]): Map[String, Bounds] = {
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => a.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some(a.name)
        case DateType | StringType | TimestampNTZType      => Some(a.name)
        // TIMESTAMP (LTZ) is deliberately absent: its collect()-side stat
        // representation is zone-dependent — an unsound-skip trap
        case _                                             => None
      }
      case _ => None
    }
    def litOf(e: Expression): Option[BV] = e match {
      case Literal(v, dt) if v != null => dt match {
        // Catalyst stores DATE as Int days and TIMESTAMP_NTZ as Long micros
        case ByteType | ShortType | IntegerType | LongType | DateType |
            TimestampNTZType =>
          Some(BvLong(v.asInstanceOf[Number].longValue()))
        case StringType => Some(BvStr(v.toString)) // UTF8String → String
        case _          => None
      }
      case _ => None
    }
    // (column, literal, column is the left operand)
    def cmp(a: Expression, b: Expression): Option[(String, BV, Boolean)] =
      (for (c <- attrOf(a); v <- litOf(b)) yield (c, v, true)) orElse
        (for (c <- attrOf(b); v <- litOf(a)) yield (c, v, false))
    def side(c: String, v: BV, lower: Boolean): (String, Bounds) =
      c -> (if (lower) (Some(v), None) else (None, Some(v)))
    val raw: Seq[(String, Bounds)] = conjuncts.flatMap {
      case EqualTo(a, b) => cmp(a, b).map { case (c, v, _) => c -> (Some(v), Some(v)) }
      case GreaterThan(a, b)        => cmp(a, b).map { case (c, v, l) => side(c, v, l) }
      case GreaterThanOrEqual(a, b) => cmp(a, b).map { case (c, v, l) => side(c, v, l) }
      case LessThan(a, b)           => cmp(a, b).map { case (c, v, l) => side(c, v, !l) }
      case LessThanOrEqual(a, b)    => cmp(a, b).map { case (c, v, l) => side(c, v, !l) }
      case _ => None
    }
    raw.groupBy(_._1).map { case (c, cs) =>
      c -> (cs.flatMap(_._2._1).reduceOption((a, b) => if (a.lt(b)) b else a),
        cs.flatMap(_._2._2).reduceOption((a, b) => if (a.lt(b)) a else b))
    }
  }

  /** True when a file's bounds prove no value lies in [`lo`, `hi`]
    * (either side open).
    */
  def disjoint(file: Bounds, lo: Option[BV], hi: Option[BV]): Boolean =
    lo.zip(file._2).exists { case (l, mx) => mx.lt(l) } ||
      hi.zip(file._1).exists { case (h, mn) => h.lt(mn) }

  /** `files` less those whose bounds prove a conjunct of `dataFilters`
    * false. `boundsOf(file, column)` is the file's known bounds for the
    * column, None when unknown (the file is then kept for that column).
    */
  def prune[F](files: Seq[F], dataFilters: Seq[Expression])(
      boundsOf: (F, String) => Option[Bounds]): Seq[F] = {
    val wanted = extractBounds(dataFilters.flatMap(splitConjunctivePredicates))
    if (wanted.isEmpty) files
    else files.filterNot { f =>
      wanted.exists { case (c, (lo, hi)) => boundsOf(f, c).exists(disjoint(_, lo, hi)) }
    }
  }
}
