package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved the Column <-> catalyst Expression bridge behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (Column is now a thin
  * Connect-compatible node). This shim lives under `org.apache.spark.sql`
  * so `private[sql]` members stay reachable — the standard extension-point
  * trick for libraries that ship custom Catalyst expressions.
  */
/** Spillable buffer of UnsafeRows for the zip join's duplicate-key groups —
  * wraps Spark's own `ExternalAppendOnlyUnsafeRowArray` (`private[sql]`,
  * the exact structure `SortMergeJoinExec` buffers its matched groups in):
  * rows past the in-memory threshold move to an `UnsafeExternalSorter`
  * that spills to disk past its managed-memory budget, so a hot key's
  * group degrades to disk instead of an executor OOM. Must be constructed
  * on an EXECUTOR (the convenience constructor reads `TaskContext.get`).
  * Iterators are invalidated by `add`/`clear`; regenerate per consumer.
  */
final class SpillableRowBuffer(numRowsInMemoryThreshold: Int,
                               numRowsSpillThreshold: Int,
                               spillSizeThreshold: Long) {
  private val arr = new org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray(
    numRowsInMemoryThreshold, Long.MaxValue, numRowsSpillThreshold, spillSizeThreshold)
  /** Copies the row (safe to pass a reused scan/sort buffer). */
  def add(row: org.apache.spark.sql.catalyst.expressions.UnsafeRow): Unit = arr.add(row)
  def clear(): Unit = arr.clear()
  def isEmpty: Boolean = arr.isEmpty
  def iterator: Iterator[org.apache.spark.sql.catalyst.expressions.UnsafeRow] =
    arr.generateIterator()
}

object SpillableRowBuffer {
  /** Driver-side threshold read — the stock sort-merge-join buffer confs
    * (`spark.sql.sortMergeJoinExec.buffer.{in.memory.threshold,
    * spill.threshold,spill.size.threshold}`), so operators tuned for SMJ
    * spill behavior tune the zip join identically. Capture the triple in
    * the closure; construct the buffer itself on the executor.
    */
  def thresholds(): (Int, Int, Long) = {
    val c = org.apache.spark.sql.internal.SQLConf.get
    (c.sortMergeJoinExecBufferInMemoryThreshold,
      c.sortMergeJoinExecBufferSpillThreshold,
      c.sortMergeJoinExecBufferSpillSizeThreshold)
  }
}

object Shim {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def col(e: Expression): Column = ExpressionUtils.column(e)

  /** `e` with NaN and -0.0 folded the way join and grouping keys are. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Build a DataFrame over a custom logical plan (`Dataset.ofRows` is
    * `private[sql]` in Spark 4's classic module).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over a pre-partitioned InternalRow RDD (the probe-routing
    * path of `KVIndex.asOfProbe`: rows already shuffled onto a snapshot's
    * leg boundaries, so the plan must see the RDD's partitioning as-is).
    */
  def fromInternalRows(spark: org.apache.spark.sql.SparkSession,
                       rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                       schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Rebuild a V1 streaming Sink's `addBatch` frame as a plain BATCH
    * DataFrame: the incoming frame's plan still carries the streaming
    * source (any new query over it fails analysis), so the sink executes
    * it once and re-wraps the rows (the Delta-sink recipe;
    * `internalCreateDataFrame` is `private[sql]`). Rows are copied —
    * the executed iterator reuses unsafe-row buffers.
    */
  def asBatch(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      data.queryExecution.toRdd.map(_.copy()), data.schema, isStreaming = false)
  }

  /** The inverse bridge for a V1 streaming Source's `getBatch`: the engine
    * expects a STREAMING-tagged frame, so the (bounded, change-data-sized)
    * batch plan is executed and re-wrapped with `isStreaming = true`.
    */
  def asStreamingBatch(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      data.queryExecution.toRdd.map(_.copy()), data.schema, isStreaming = true)
  }

  /** Re-tag an [[asStreamingBatch]] result as a plain batch frame (tests /
    * utilities that drive a Source by hand): the rows were already
    * computed when the streaming wrapper was built — only the streaming
    * bit blocks batch execution, so lift the RDD straight out of the
    * `LogicalRDD` instead of re-executing through the batch checker.
    */
  def streamingRddAsBatch(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    data.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        spark.internalCreateDataFrame(l.rdd, data.schema, isStreaming = false)
      case _ => asBatch(data)
    }
  }
}
