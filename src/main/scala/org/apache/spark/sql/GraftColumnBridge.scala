package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge between public `Column`s and Catalyst `Expression`s for custom
 * native expressions. Spark 4 moved the Column↔Expression conversion
 * behind `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`);
 * this shim re-exposes it — the same package-placement technique
 * connector libraries use to extend Spark.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a (resolved) logical plan — `Dataset.ofRows` is
    * `private[sql]` in Spark 4; needed to execute synthesized plans (e.g.
    * the dynamic-pruning min/max aggregate) from library code. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Fork a session with an ISOLATED SQLConf sharing the SparkContext and
    * session state (`cloneSession` is `private[sql]` in Spark 4). Used to
    * make per-write conf toggles (e.g. variant shredding) write-local:
    * setting them on the clone cannot race concurrent writes that read the
    * original session's conf. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Wait until the listener bus has delivered every event posted so far
    * (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The `private[sql]` temporary column name parquet readers match BY NAME
    * and populate with the physical (file-level) row index when a nullable
    * long field of this name appears in requiredSchema. */
  def parquetRowIndexTempColumnName: String =
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Re-tag a batch DataFrame as a streaming micro-batch frame: V1
    * `Source.getBatch` results must have `isStreaming=true`
    * (MicroBatchExecution asserts it), but every public way to build a
    * DataFrame over planned files yields a batch plan. Wraps the planned
    * RDD in a streaming `LogicalRDD` — the execution stays the already-
    * optimized scan; only the logical tag changes. */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = true)(spark)
    classic.Dataset.ofRows(spark, plan)
  }

  /** The inverse of [[asStreamingBatch]]: the micro-batch DataFrame handed
    * to a V1 `Sink.addBatch` wraps the IncrementalExecution's streaming
    * plan — any batch action on it trips the streaming-source check. Wrap
    * the ALREADY-PLANNED physical RDD in a batch `LogicalRDD` so the sink
    * writes the micro-batch's exact output without re-planning the query
    * (the same internalCreateDataFrame shape Spark's own file sink uses). */
  def asBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = false)(spark)
    classic.Dataset.ofRows(spark, plan)
  }
}
