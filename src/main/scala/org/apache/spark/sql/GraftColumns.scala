package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Builds a [[Column]] straight from a Catalyst expression, and reads a
  * Column's expression back: the one bridge graft's native kernels
  * (`graft.functions`) need to be plain Column functions. Spark's own
  * converters (`classic.ExpressionUtils`) are `private[sql]`, so this
  * object lives in Spark's package; it adds nothing to them.
  *
  * A Column built here carries its expression, not a function name, so it
  * resolves on any session's DataFrame: no registry, no active session.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
