package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the
  * conversion lives in `private[sql]` ExpressionUtils. This shim is the
  * single place the engine crosses that boundary (needed to expose
  * custom Catalyst expressions as Columns).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Post-hoc function registration (sessionState is `private[sql]`). */
object FunctionBridge {
  def register(
      spark: org.apache.spark.sql.SparkSession,
      descriptor: (org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(descriptor._1, descriptor._2, descriptor._3)
}

/** `StructType.asNullable` is `private[spark]`: a file source's
  * schema reads back all-nullable, and the driver-side footer reader
  * ([[graft.io.DriverParquet]]) returns it the same way.
  */
object SchemaBridge {
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
