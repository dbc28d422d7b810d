package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation
}
import org.apache.spark.sql.types._

/** Optimizer rule: AUTOMATIC file skipping from the `gold.StatsIndex`
  * min/max index — the planner-side half of a lakehouse data-skipping
  * stack. `StatsIndex.prunedRead` requires callers to consult the index by
  * hand; with this rule a user writes the ordinary
  * `spark.read.parquet(table).filter(col <op> literal)` and the scan is
  * rewritten to only the files whose [min, max] box can satisfy the
  * filter. This is exactly what Delta/Iceberg planners do from their
  * transaction-log stats, re-expressed over plain parquet + a co-located
  * `_graft_stats` directory (underscore-prefixed, so normal reads never
  * see it as data).
  *
  * Fires ONLY when the user sets `spark.graft.skipIndex.path` to the
  * indexed table's root path (scoping discipline: set it on a
  * `spark.newSession()` child, the `RewriteRangeJoin` pattern). Eligible
  * shape: a `Filter` DIRECTLY over the table's parquet relation (where
  * predicate pushdown puts it) with at least one conjunct of the form
  * `col <op> literal` (`=`, `<`, `<=`, `>`, `>=`, both operand orders) on
  * an indexed column of integral, DATE, STRING, or TIMESTAMP_NTZ type —
  * the stat classes Delta/Iceberg prune on. String bounds compare in
  * UTF8String BINARY order (Spark's own min/max ordering), never
  * java.lang.String UTF-16 order. Pruning uses each conjunct independently
  * as a necessary condition, so ANY residual conjuncts are simply kept —
  * the original Filter always re-applies row-level semantics; the index
  * prunes I/O, never meaning. Strict bounds are relaxed to inclusive at
  * the FILE level (sound: a superset of files survives).
  *
  * Soundness of the skip itself: a file with `max < lo` or `min > hi` on
  * some constrained column cannot contain a matching row; files with NULL
  * or non-integral stats are always kept. `ZOrderSpec` extends the
  * pruned≡unpruned equality to this rule, and `q_x_skip_index_auto` runs
  * it through the DuckDB oracle gate.
  *
  * Cost discipline: the stats table is metadata-scale (one row per file),
  * cached on the driver keyed by the stats directory's (name, mtime, len)
  * listing — re-optimization loops and repeated queries hit the cache; a
  * rebuilt index invalidates it naturally. A TreeNodeTag marks visited
  * relations so the optimizer's fixed-point iteration does not re-plan
  * the same scan. A set conf with NO index present raises a named error
  * (misconfiguration must be loud, not a silent no-prune).
  */
object RewriteSkipIndexScan extends Rule[LogicalPlan] with PredicateHelper {

  val PathKey = "spark.graft.skipIndex.path"
  val StatsDirName = "_graft_stats"

  private val Checked = TreeNodeTag[Boolean]("graft.skipIndex.checked")

  /** One comparable stat/literal value. Two domains: LONG (integral
    * columns; DATE as epoch days — Catalyst's own literal representation)
    * and STRING (compared in UTF8String BINARY order — Spark's min/max on
    * strings aggregate in UTF-8 byte order, and java.lang.String's UTF-16
    * order disagrees for supplementary-plane characters, which would make
    * a skip unsound exactly on emoji-adjacent boundaries). Cross-domain
    * comparisons never prune.
    */
  private[graft] sealed trait BV {
    def lt(o: BV): Boolean = (this, o) match {
      case (BvLong(x), BvLong(y)) => x < y
      case (BvStr(x), BvStr(y)) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case _ => false
    }
  }
  private[graft] final case class BvLong(v: Long) extends BV
  private[graft] final case class BvStr(v: String) extends BV

  /** Per-file bounds for every indexed column; None = null/unsupported
    * stat (unconstrained — the file is always kept for that column).
    */
  private final case class FileStats(
      file: String, bounds: Map[String, (Option[BV], Option[BV])])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[FileStats])]()

  /** For tests: drop all cached stats. */
  def invalidateCache(): Unit = cache.clear()

  private def loadStats(spark: SparkSession, tablePath: String): Seq[FileStats] = {
    val statsPath = new Path(tablePath, StatsDirName)
    val fs = statsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(statsPath))
      throw new IllegalArgumentException(
        s"RewriteSkipIndexScan: $PathKey is set to '$tablePath' but no stats " +
          s"index exists at $statsPath - build one with StatsIndex.write " +
          "or unset the config")
    val fingerprint = fs.listStatus(statsPath)
      .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
      .sorted.mkString(",")
    val key = statsPath.toString
    val hit = cache.get(key)
    if (hit != null && hit._1 == fingerprint) return hit._2

    val df = spark.read.parquet(statsPath.toString)
    val indexedCols = df.schema.fieldNames.filter(_.endsWith("_min"))
      .map(_.dropRight(4))
      .filter(c => df.schema.fieldNames.contains(s"${c}_max"))
    val rows = df.collect().map { r =>
      def stat(n: String): Option[BV] = r.getAs[Any](n) match {
        case n: Number            => Some(BvLong(n.longValue()))
        case d: java.sql.Date     => Some(BvLong(d.toLocalDate.toEpochDay))
        case d: java.time.LocalDate => Some(BvLong(d.toEpochDay))
        case t: java.time.LocalDateTime => // TIMESTAMP_NTZ → Catalyst micros
          Some(BvLong(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L))
        case s: String            => Some(BvStr(s))
        case _                    => None
      }
      FileStats(r.getAs[String]("file"),
        indexedCols.map(c => c -> (stat(s"${c}_min"), stat(s"${c}_max"))).toMap)
    }.toSeq
    cache.put(key, (fingerprint, rows))
    rows
  }

  /** Intersected [lo, hi] constraint per column from the usable conjuncts
    * (None = open side). Supported literal/column domains: integrals,
    * DATE (Catalyst days), STRING (UTF8 binary order) — the same stat
    * classes Delta/Iceberg prune on.
    */
  private[graft] def extractBounds(conjuncts: Seq[Expression])
      : Map[String, (Option[BV], Option[BV])] = {
    def supported(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case DateType | StringType | TimestampNTZType      => true
      // TIMESTAMP (LTZ) is deliberately absent: its collect()-side stat
      // representation is zone-dependent — an unsound-skip trap
      case _                                             => false
    }
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if supported(a.dataType) => Some(a.name)
      case _                                              => None
    }
    def litOf(e: Expression): Option[BV] = e match {
      case Literal(v, dt) if v != null => dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(BvLong(v.asInstanceOf[Number].longValue()))
        case DateType => Some(BvLong(v.asInstanceOf[Number].longValue()))
        case TimestampNTZType => // Catalyst stores NTZ as Long micros
          Some(BvLong(v.asInstanceOf[Number].longValue()))
        case StringType => Some(BvStr(v.toString)) // UTF8String → String
        case _          => None
      }
      case _ => None
    }
    val none: Option[BV] = None
    val raw: Seq[(String, Option[BV], Option[BV])] = conjuncts.flatMap {
      case EqualTo(a, l) =>
        (for (c <- attrOf(a); v <- litOf(l)) yield (c, Some(v): Option[BV], Some(v): Option[BV])) orElse
          (for (c <- attrOf(l); v <- litOf(a)) yield (c, Some(v): Option[BV], Some(v): Option[BV]))
      case GreaterThanOrEqual(a, l) =>
        (for (c <- attrOf(a); v <- litOf(l)) yield (c, Some(v): Option[BV], none)) orElse
          (for (c <- attrOf(l); v <- litOf(a)) yield (c, none, Some(v): Option[BV]))
      case GreaterThan(a, l) => // relaxed to inclusive: file-level superset
        (for (c <- attrOf(a); v <- litOf(l)) yield (c, Some(v): Option[BV], none)) orElse
          (for (c <- attrOf(l); v <- litOf(a)) yield (c, none, Some(v): Option[BV]))
      case LessThanOrEqual(a, l) =>
        (for (c <- attrOf(a); v <- litOf(l)) yield (c, none, Some(v): Option[BV])) orElse
          (for (c <- attrOf(l); v <- litOf(a)) yield (c, Some(v): Option[BV], none))
      case LessThan(a, l) =>
        (for (c <- attrOf(a); v <- litOf(l)) yield (c, none, Some(v): Option[BV])) orElse
          (for (c <- attrOf(l); v <- litOf(a)) yield (c, Some(v): Option[BV], none))
      case _ => None
    }
    raw.groupBy(_._1).map { case (c, cs) =>
      val los = cs.flatMap(_._2)
      val his = cs.flatMap(_._3)
      c -> (
        if (los.isEmpty) none else Some(los.reduce((a, b) => if (a.lt(b)) b else a)),
        if (his.isEmpty) none else Some(his.reduce((a, b) => if (a.lt(b)) a else b)))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val tablePath = conf.getConfString(PathKey, "").trim
    if (tablePath.isEmpty) return plan
    val wanted = new Path(tablePath).toUri.getPath
    lazy val session = SparkSession.active

    plan.transform {
      case f @ Filter(cond,
          rel @ LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _))
          if rel.getTagValue(Checked).isEmpty &&
            fsRel.location.rootPaths.map(_.toUri.getPath) == Seq(wanted) =>
        rel.setTagValue(Checked, true)
        val bounds = extractBounds(splitConjunctivePredicates(cond))
        if (bounds.isEmpty) f
        else {
          val stats = loadStats(session, tablePath)
          val kept = stats.filter { st =>
            bounds.forall { case (c, (lo, hi)) =>
              st.bounds.get(c) match {
                case Some((Some(mn), Some(mx))) =>
                  !(lo.exists(l => mx.lt(l)) || hi.exists(h => h.lt(mn)))
                case _ => true // un-indexed column or null stats: keep
              }
            }
          }.map(_.file)
          if (kept.size == stats.size) f
          else {
            val pruned = new InMemoryFileIndex(
              session, kept.map(new Path(_)), Map.empty, Some(fsRel.dataSchema))
            val newRel = rel.copy(relation =
              fsRel.copy(location = pruned)(session))
            newRel.setTagValue(Checked, true)
            Filter(cond, newRel)
          }
        }
    }
  }
}
