package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge: Spark 4 removed `Column.expr` from the
  * public API; the supported converter (`classic.ExpressionUtils`) is
  * `private[sql]`, so this one-file shim lives in the sql package
  * namespace to expose it to graft's custom expressions. */
object ColumnBridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Dataset ⇄ LogicalPlan bridge for custom operators: `Dataset.ofRows`
  * is `private[sql]`, so constructing a DataFrame over a custom logical
  * node (e.g. graft.plans.AsOfJoin) goes through this shim. */
object DatasetBridge {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed
}

/** RDD block release without `RDD.unpersist`'s locally-checkpointed
  * WARN: `SparkContext.unpersistRDD` is `private[spark]`. */
object RddBridge {
  def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
