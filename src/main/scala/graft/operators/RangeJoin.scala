package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Range joins without nested loops — operators Spark expresses only as a
  * BroadcastNestedLoopJoin / CartesianProduct when written naively (a
  * range predicate has no equi-key for the hash join planner).
  *
  * Technique (the standard bucketization used by interval-join engines):
  * quantize the range dimension into fixed-width buckets; an interval is
  * exploded to every bucket it covers, a point maps to exactly one bucket,
  * and the range predicate becomes an EQUI-join on the bucket id plus a
  * cheap residual filter. The quadratic blow-up of a nested loop is traded
  * for an explode factor of ceil(span / bucketWidth) — caller-bounded, and
  * guarded here with a loud runtime error rather than a silent hot task.
  *
  * Scale shape: one shuffle on (keys…, bucket) for each side — or a
  * broadcast when one side is small, chosen by Catalyst/AQE as usual,
  * because the join IS an ordinary equi-join after the rewrite. No
  * pairwise blow-up, no driver involvement. Skewed buckets behave like any
  * skewed equi-key (AQE skew split applies).
  *
  * Semantics notes: intervals are CLOSED ([lo, hi], both inclusive); rows
  * with a NULL point / lo / hi never match (their bucket key is null, and
  * null equi-keys don't join) — same as the SQL range predicate they
  * replace.
  */
object RangeJoin {

  private val B = "__rj_bucket"

  /** Default cap on the buckets one interval may span (shared with
    * `plans.RewriteRangeJoin`, whose cap it is).
    */
  val MaxBucketsPerInterval = 4096

  /** Floor-division bucket id, exact for any sign and the full long range.
    * `x - pmod(x, w)` is an exact multiple of w, so integral division of it
    * is exact — no double rounding at ±2^53. The subtraction, however,
    * underflows a LONG for x within w of Long.MinValue (ANSI arithmetic
    * error), so rows in that sliver take a DECIMAL(38,0) path; every other
    * row (i.e. all of them, in practice) runs pure LONG arithmetic — an
    * all-DECIMAL version measured ~3x slower on interval-overlap joins.
    * Inputs must be integral (they are: callers bucket integral range
    * columns, and bucket ids must fit a long anyway). Twin of
    * `plans.RewriteRangeJoin.bucketOf` — keep them identical.
    */
  private[operators] def bucketOf(c: Column, w: Long): Column = {
    val lng  = c.cast("long")
    val fast = call_function("div", lng - pmod(lng, lit(w)), lit(w))
    val dec  = c.cast(DecimalType(38, 0))
    val slow = ((dec - pmod(dec, lit(w))) / lit(w)).cast("long")
    when(lng >= lit(Long.MinValue + w), fast).otherwise(slow)
  }

  /** Explode an interval frame to one row per covered bucket. The guard
    * raises (distributed, per-row) if an interval covers more than
    * `maxBuckets` buckets — a silent 10^6-way explode is how a "bucketed"
    * join degenerates back into the quadratic one.
    */
  private def explodeBuckets(iv: DataFrame, loCol: String, hiCol: String,
      w: Long, maxBuckets: Int): DataFrame = {
    val blo = bucketOf(col(loCol), w)
    val bhi = bucketOf(col(hiCol), w)
    // Inverted intervals (lo > hi) are EMPTY and must be checked first:
    // sequence(blo, bhi) would otherwise DESCEND (default step -1), and
    // the span guard below is negative for them — a grossly inverted
    // interval would explode a huge garbage sequence straight past it.
    iv.withColumn(B, explode(
      when(col(loCol) > col(hiCol), array().cast("array<long>"))
        .when(bhi - blo >= maxBuckets, raise_error(concat(
          lit(s"RangeJoin: interval spans >= $maxBuckets buckets of width $w ["),
          col(loCol), lit(", "), col(hiCol),
          lit("] - raise bucketWidth or maxBucketsPerInterval"))))
        .otherwise(sequence(blo, bhi))))
  }

  /** Join `points` to every interval of `intervals` containing them:
    * pointCol ∈ [loCol, hiCol], optionally also matching on equi `keys`
    * present on both sides. Output = points columns ++ interval columns
    * (names must not collide apart from `keys`). Each matching
    * (point, interval) pair appears exactly once — the point lives in one
    * bucket, so the exploded interval meets it exactly once and no
    * post-join distinct is needed.
    *
    * `bucketWidth` tunes the explode factor: pick it near the typical
    * interval span so most intervals explode to ~2 buckets.
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil,
      maxBucketsPerInterval: Int = MaxBucketsPerInterval
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val collisions = points.columns.toSet
      .intersect(intervals.columns.toSet) -- keys.toSet
    require(collisions.isEmpty,
      s"point/interval column names collide beyond the join keys: $collisions")
    val p = points.withColumn(B, bucketOf(col(pointCol), bucketWidth))
    val iv = explodeBuckets(intervals, loCol, hiCol, bucketWidth,
      maxBucketsPerInterval)
    p.join(iv, keys :+ B)
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop(B)
  }

  /** Join two interval frames on overlap: [lLo,lHi] ∩ [rLo,rHi] ≠ ∅ (closed
    * intervals; touching endpoints count), optionally also matching equi
    * `keys`. Both sides are bucket-exploded; a candidate pair meets in
    * every bucket both cover, so the pair is emitted ONLY in the bucket
    * containing the overlap start, max(lLo, rLo) — that bucket is covered
    * by both sides whenever the overlap is non-empty, making each pair
    * appear exactly once without a distinct.
    */
  def intervalOverlap(
      left: DataFrame,
      right: DataFrame,
      lLo: String,
      lHi: String,
      rLo: String,
      rHi: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil,
      maxBucketsPerInterval: Int = MaxBucketsPerInterval
  ): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val collisions = left.columns.toSet
      .intersect(right.columns.toSet) -- keys.toSet
    require(collisions.isEmpty,
      s"left/right column names collide beyond the join keys: $collisions")
    val l = explodeBuckets(left, lLo, lHi, bucketWidth, maxBucketsPerInterval)
    val r = explodeBuckets(right, rLo, rHi, bucketWidth, maxBucketsPerInterval)
    l.join(r, keys :+ B)
      .filter(col(lLo) <= col(rHi) && col(rLo) <= col(lHi))
      .filter(col(B) === bucketOf(greatest(col(lLo), col(rLo)), bucketWidth))
      .drop(B)
  }
}
