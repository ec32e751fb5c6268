package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}

/** Minimal bridge into `private[sql]` session and Dataset factories, so
  * a custom logical plan (graft.plans.AsOfJoin) can surface as an
  * ordinary DataFrame, a bounded stream can run on a session clone
  * (graft.streaming.Streams.runBounded) and Spark's codegen cache can be
  * sized (graft.functions.Native.CodegenCacheEntries). This is the
  * standard extension-point shim a Spark library with its own
  * LogicalPlan ships. */
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

  /** Builds Spark's JVM-wide codegen cache with `entries` slots, unless
    * `spark`'s SQL conf sets `spark.sql.codegen.cache.maxEntries` itself
    * (as a builder option, or through the SparkConf or a `-D` JVM
    * property, which the session conf inherits): then that value is
    * used. `CodeGenerator` sizes its cache once, from `SQLConf.get`, when
    * the object is first touched; this touches it under a clone of the
    * session conf (`private[sql]` `withExistingConf`) carrying the size.
    * Once any code was generated in this JVM the cache exists and this
    * changes nothing. */
  def sizeCodegenCache(spark: SparkSession, entries: Int): Unit = {
    val key = internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val sized = spark.asInstanceOf[ClassicSparkSession].sessionState.conf.clone()
    if (!sized.contains(key)) sized.setConfString(key, entries.toString)
    internal.SQLConf.withExistingConf(sized) {
      catalyst.expressions.codegen.CodeGenerator.javaType(types.IntegerType)
    }
  }
}
