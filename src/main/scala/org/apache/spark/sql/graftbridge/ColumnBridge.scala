package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column internals — the supported way for
  * external Spark libraries to translate a public `Column` into its
  * Catalyst `Expression` under Spark 4's Connect-agnostic Column API.
  */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Bridge to `private[spark]` schema helpers: a relation's data schema
  * is the inferred schema with every field nullable, as Spark's
  * `DataSource` resolves it. */
object SchemaBridge {
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
