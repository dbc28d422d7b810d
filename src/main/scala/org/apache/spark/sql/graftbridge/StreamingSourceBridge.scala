package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** The two DataFrame constructions a V1 streaming `Source.getBatch` needs,
  * both `private[sql]` in Spark 4 — re-exported from inside the sql package
  * namespace (the ColumnBridge pattern). A batch DataFrame returned by
  * `getBatch` MUST carry `isStreaming = true` on its logical plan:
  * MicroBatchExecution asserts it before splicing the plan into the
  * streaming query. This is exactly how Spark's own FileStreamSource (and
  * the public Delta connector's DeltaSource) build their batches — a
  * file-backed relation flagged streaming, so the read itself stays the
  * ordinary distributed parquet scan. No Spark internals are modified.
  */
object StreamingSourceBridge {

  /** A streaming-flagged batch over a file relation (a TxLog stream
    * batch's files, listed by the caller's own transaction log), read in
    * place by the normal file-source path (column pruning / filter
    * pushdown intact).
    */
  def streamingBatch(spark: org.apache.spark.sql.SparkSession,
      relation: BaseRelation): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession],
      LogicalRelation(relation, isStreaming = true))

  /** The inverse bridge, for V1 streaming SINKS: the DataFrame handed to
    * `Sink.addBatch` carries a streaming-flagged plan (an
    * IncrementalExecution), so any batch action on it — `df.write`, a
    * fresh aggregation — fails analysis with "streaming sources must be
    * executed with writeStream". Re-wrap the micro-batch's already-planned
    * RDD as an ordinary batch DataFrame (`isStreaming = false`), exactly
    * what Spark's own ForeachBatchSink does before handing the user their
    * batch view. The RDD is the executed micro-batch lineage — recomputing
    * it (e.g. across a commit retry) replays the same deterministic batch.
    */
  def sinkBatchView(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[Dataset[Row]]
    val cs = ds.sparkSession.asInstanceOf[ClassicSession]
    cs.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema,
      isStreaming = false)
  }

  /** An ordinary batch DataFrame over an (already analyzed) logical plan
    * — for runnable commands that captured a statement's source plan at
    * analysis time (the SQL MERGE seam) and materialize it at execution.
    * `Dataset.ofRows` is `private[sql]`, hence the bridge.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A DataFrame's ANALYZED logical plan — for optimizer rules that
    * splice a library-built read plan in place of a placeholder relation
    * (`queryExecution` is public only on the classic Dataset).
    */
  def analyzedPlan(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[Dataset[Row]].queryExecution.analyzed

  /** A zero-row streaming-flagged batch (a micro-batch whose offset range
    * contains no data files — e.g. a commit that added nothing).
    */
  def emptyStreamingBatch(
      spark: org.apache.spark.sql.SparkSession,
      schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSession]
    Dataset.ofRows(cs,
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))
  }
}
