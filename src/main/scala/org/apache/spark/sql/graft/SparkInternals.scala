package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` Spark surface: Column <-> catalyst
  * Expression, the session SQL parser, and DataFrames over catalyst rows
  * (streaming ones included). Lives under
  * `org.apache.spark.sql` solely for access; everything else in this
  * project is under `graft`.
  */
object SparkInternals {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Parse a SQL (named) expression string into an unresolved Expression. */
  def parseExpression(spark: SparkSession, sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  /** True when the session's CacheManager holds no cached plans — the
    * assertion surface for per-batch ops' unpersist discipline
    * (CacheManager entries outlive the ContextCleaner; a leak here grows
    * unboundedly under a streaming micro-batch loop).
    */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty

  /** A DataFrame over catalyst rows; `isStreaming` marks it as one
    * micro-batch of a V1 streaming `Source` (`getBatch` must return a
    * streaming plan).
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming)
}
