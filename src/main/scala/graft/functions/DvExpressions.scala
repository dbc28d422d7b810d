package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side PER-FILE deletion-vector store — the scalable half of
  * the TxLog DV read path (the Delta shape: each scan task consults its
  * own file's bitmap; deleted rows never ride a join relation).
  *
  * The broadcast-anti-join DV read ships EVERY deleted (file, row_index)
  * pair of the table as one hashed relation to every executor on every
  * read — sound while vectors are transient, but a 100-TB table that
  * soft-deletes 0.1% of its rows would broadcast tens of millions of
  * rows per query until someone purges. Here only the metadata-scale
  * `dataFile → dvSidecar` NAME map is broadcast; each executor lazily
  * loads the sidecars it actually encounters ONCE per JVM (not per task,
  * not per query) and keeps each file's deleted row indices as a sorted
  * long array probed by binary search inside whole-stage codegen.
  *
  * Cache discipline: sidecar files are IMMUTABLE once a version record
  * references them (the TxLog staging contract), so entries never need
  * invalidation — the cache is bounded by total retained indices and
  * evicts least-recently-used whole sidecars past the budget.
  */
object DvSidecars {

  /** Total retained row indices across cached sidecars (8 bytes each;
    * default 1<<24 ≈ 128 MB). Var so specs can force eviction.
    */
  @volatile private[graft] var cacheBudgetIndices: Long = 1L << 24

  /** Test seam: sidecar parquet loads performed by this JVM. */
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  private final case class Entry(byFile: Map[String, Array[Long]],
      indices: Long)

  private val cache =
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var cachedIndices = 0L

  private[graft] def clearCache(): Unit = cache.synchronized {
    cache.clear(); cachedIndices = 0L
  }

  /** The per-data-file sorted deleted-row-index arrays of one sidecar
    * (ALL its entries, including superseded ones — the caller's active
    * map decides which apply). Loaded once per JVM and LRU-retained.
    */
  def indicesFor(table: String, dvFile: String): Map[String, Array[Long]] = {
    val key = s"$table/$dvFile"
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit.byFile
    }
    val loaded = load(key)
    val n = loaded.valuesIterator.map(_.length.toLong).sum
    cache.synchronized {
      val again = cache.get(key)
      if (again != null) again.byFile
      else {
        cache.put(key, Entry(loaded, n))
        cachedIndices += n
        val it = cache.entrySet().iterator()
        while (cachedIndices > cacheBudgetIndices && cache.size() > 1) {
          val eldest = it.next()
          cachedIndices -= eldest.getValue.indices
          it.remove()
        }
        loaded
      }
    }
  }

  private final class LongVec {
    private var a = new Array[Long](16)
    private var n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def sortedArray: Array[Long] = {
      val out = java.util.Arrays.copyOf(a, n)
      java.util.Arrays.sort(out)
      out
    }
  }

  /** Read one sidecar parquet (columns `file`, `row_idx`) via parquet-mr
    * — the checkpoint parser's local-file reader, so no Spark job, no
    * driver round-trip and no Hadoop Configuration; runs wherever the
    * probe runs.
    */
  private def load(fullPath: String): Map[String, Array[Long]] = {
    loads.incrementAndGet()
    val reader = graft.gold.TxLog.localParquetReader(new java.io.File(fullPath))
    try {
      val acc = new java.util.HashMap[String, LongVec]()
      var g = reader.read()
      while (g != null) {
        val f = g.getString("file", 0)
        var v = acc.get(f)
        if (v == null) { v = new LongVec; acc.put(f, v) }
        v.add(g.getLong("row_idx", 0))
        g = reader.read()
      }
      val b = Map.newBuilder[String, Array[Long]]
      acc.forEach((f, v) => b += f -> v.sortedArray)
      b.result()
    } finally reader.close()
  }
}

/** The serialized handle a [[DvRowAlive]] expression carries to the
  * executors: the table path plus the BROADCAST metadata-scale
  * `dataFile → dvSidecar` name map (never the deleted rows themselves).
  * Per-row probes memoize the last file's index array — a scan partition
  * reads one file's rows consecutively, so the map lookup amortizes to
  * once per file, and the UTF8String is CLONED into the memo (scan
  * buffers are reused across rows).
  */
final class DvLookup(val table: String,
    val active: Broadcast[Map[String, String]]) extends Serializable {

  @transient private var lastFile: UTF8String = _
  @transient private var lastSet: Array[Long] = _

  def alive(file: UTF8String, ri: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(file)) {
      lastFile = file.clone()
      val s = file.toString
      lastSet = active.value.get(s) match {
        case None => null
        case Some(dvf) => DvSidecars.indicesFor(table, dvf).getOrElse(s, null)
      }
    }
    lastSet == null || java.util.Arrays.binarySearch(lastSet, ri) < 0
  }
}

/** `graft_dv_alive(file_name, row_index)` — TRUE iff the row survives the
  * table's active deletion vectors. Codegen'd (no CodegenFallback — the
  * filter must not evict the scan's projection from whole-stage codegen);
  * the per-file index sets load lazily executor-side via [[DvSidecars]].
  * Deterministic for a fixed snapshot: sidecars are immutable and the
  * active map is pinned at plan time.
  */
case class DvRowAlive(left: Expression, right: Expression, lookup: DvLookup)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_dv_alive"

  override def nullSafeEval(file: Any, ri: Any): Any =
    lookup.alive(file.asInstanceOf[UTF8String], ri.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLookup", lookup,
      classOf[DvLookup].getName)
    nullSafeCodeGen(ctx, ev, (f, ri) =>
      s"${ev.value} = $ref.alive($f, $ri);")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DvRowAlive = copy(left = l, right = r)
}

object DvRowAlive {
  /** Column API: the survives-deletion-vectors test over the scan-bound
    * metadata columns.
    */
  def apply(file: Column, rowIndex: Column, lookup: DvLookup): Column =
    ColumnBridge.column(DvRowAlive(ColumnBridge.expression(file),
      ColumnBridge.expression(rowIndex), lookup))
}
