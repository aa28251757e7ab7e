package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{DoubleType, LongType}

/**
 * Minimal bridge into `private[sql]` Spark internals: Column ↔ Expression,
 * and the cast-overflow error fused kernels raise exactly as Spark does.
 * Spark 4.x removed the public `new Column(expr)` constructor (columns are
 * now backend-agnostic ColumnNodes); the classic bridge lives in
 * `org.apache.spark.sql.classic.ExpressionUtils`, which is private[sql] —
 * hence this one-file shim in the sql package namespace. Nothing else in
 * the codebase reaches into Spark internals.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The error Spark's ANSI double → bigint Cast raises for `v`. */
  def castToLongOverflow(v: Double): ArithmeticException =
    QueryExecutionErrors.castingCauseOverflowError(v, DoubleType, LongType)
}
