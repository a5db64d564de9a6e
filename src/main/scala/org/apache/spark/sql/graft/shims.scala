package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge between graft's native Catalyst expressions and the public
 * Column API. Spark 4 made Column a wrapper over ColumnNode and the
 * Expression<->Column converters `private[sql]`; this shim (in the sql
 * package namespace, the customary pattern for Catalyst extension
 * libraries) re-exports just the two conversions graft needs.
 */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an ALREADY-RUNNING session (builder
    * extensions only apply at session construction). */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession,
                           name: String,
                           builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** The session's SQL conf, as Spark's own file-format code reads it. */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.sessionState.conf
}
