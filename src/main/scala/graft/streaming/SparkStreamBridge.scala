package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` streaming-DataFrame constructor — the
  * same pattern [[GraftExprBridge]] uses for Column ↔ Expression. A V1
  * streaming `Source.getBatch` must return a frame whose logical plan
  * carries `isStreaming = true` (MicroBatchExecution asserts it); the
  * only constructor for that is
  * `classic.SparkSession.internalCreateDataFrame(rdd, schema,
  * isStreaming)`, which is how the built-in file stream source builds
  * its batches too.
  */
object GraftStreamBridge {

  /** Re-root a BATCH frame as a streaming micro-batch frame: reuse its
    * physical plan's InternalRow RDD (the distributed parquet scan is
    * untouched) under a streaming-flagged leaf.
    */
  def asStreamingFrame(df: DataFrame, schema: StructType): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** The inverse, for a V1 streaming `Sink.addBatch`: the frame handed
    * to a sink is streaming-flagged and refuses `df.write`, but its
    * physical plan IS the micro-batch — re-root the same InternalRow
    * RDD as an ordinary batch frame so the store's commit path (a plain
    * parquet write) can consume it.
    */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** `Dataset.ofRows` is `private[sql]` — the INSERT INTO command needs
    * it to execute the statement's (already-analyzed) source query as
    * an ordinary DataFrame, and `graft.ext.Graph` to re-root a pin
    * under its declared layout.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
