package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bridge into `private[sql]` Expression↔Column and Dataset↔LogicalPlan
  * conversion (Spark 4.x moved the old `Column(expr)` constructor
  * behind ColumnNode). Pattern follows public extension libraries
  * (e.g. Qbeast's DatasetFactory) that host a factory inside
  * org.apache.spark.sql.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager Column→Expression conversion through the session's
    * converter — unlike [[expression]], the result is a fully
    * converted catalyst tree (no lazy ColumnNodeExpression wrappers,
    * which embed non-serializable internal nodes).
    */
  def eagerExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed-or-not logical plan backing a Dataset. */
  def logicalPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** `df`'s rows held in the block managers WITH their lineage: the
    * query's shuffle stages run now, as `localCheckpoint` runs them,
    * and its output RDD is persisted instead of checkpointed. The
    * frame returned is a scan of that RDD — the shape `localCheckpoint`
    * returns, so a plan that reads it twice reuses one exchange, and
    * `df`'s statistics still guide broadcast choices. Blocks lost with
    * an executor are recomputed from the lineage. The RDD is returned
    * for `unpersist`.
    */
  def persisted(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val plan = LogicalRDD(qe.analyzed.output, rdd, UnknownPartitioning(0), Nil,
      isStreaming = false)(ds.sparkSession, Some(qe.optimizedPlan.stats))
    (classic.Dataset.ofRows(ds.sparkSession, plan), rdd)
  }
}
