package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}

/** Minimal bridge into `private[sql]` session and Dataset factories, so
  * a custom logical plan (graft.plans.AsOfJoin) can surface as an
  * ordinary DataFrame and a bounded stream can run on a session clone
  * (graft.streaming.Streams.runBounded). This is the standard
  * extension-point shim a Spark library with its own LogicalPlan
  * ships. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** A session sharing `spark`'s context and catalog, with its own copy
    * of the SQL conf, functions and listeners (`private[sql]`). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSparkSession].cloneSession()

  /** Column -> Catalyst Expression (the 4.x ColumnNode bridge). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `DataType.sameType` (nullability-insensitive equality) is
    * `private[spark]`; expose it for type-compatibility checks. */
  def sameType(a: types.DataType, b: types.DataType): Boolean = a.sameType(b)

  /** Is `dt` an integral type (`private[spark]` IntegralType)? */
  def isIntegral(dt: types.DataType): Boolean = dt.isInstanceOf[types.IntegralType]
}
