package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** graft's one bridge to Spark's package-private members. It lives in
  * the spark sql package namespace solely to reach them; graft code calls
  * this instead of touching internals.
  */
object GraftSparkInterop {

  /** Deliver every event already posted to the listener bus. The phase
    * recorder ([[graft.Phase.Recorder]]) folds events an ASYNC listener
    * receives; a snapshot taken without draining the bus first would
    * miss the stages and tasks of jobs that already returned.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame of `spark` from an already-resolved logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` as a frame of `spark`: the same resolved plan, planned and run
    * under `spark`'s conf. A checkpoint keeps its RDD, partitioning and
    * ordering across the move, and a persisted plan stays served by the
    * cache manager the sessions share.
    */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df else ofRows(spark, analyzed(df))

  /** The analyzed logical plan backing a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
}
