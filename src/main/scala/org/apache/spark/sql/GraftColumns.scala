package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Builds a [[Column]] straight from a Catalyst expression, and reads a
  * Column's expression back: the one bridge graft's native kernels
  * (`graft.functions`) need to be plain Column functions. Spark's own
  * converters (`classic.ExpressionUtils`) are `private[sql]`, so this
  * object lives in Spark's package; it adds nothing to them. It also
  * moves rows between a DataFrame and Catalyst's internal form, for the
  * code that stages or collects rows itself (`Pipeline`, `GeoCache`).
  *
  * A Column built here carries its expression, not a function name, so it
  * resolves on any session's DataFrame: no registry, no active session.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's internal form, planned as
    * a scan of `rows` (a `LogicalRDD`): no conversion to external `Row`s
    * and back, as `createDataFrame` would do. The rows must match
    * `schema`, and each must be its own object (`copy()` rows taken from
    * a plan's `toRdd`, which reuses one buffer per partition).
    */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `df.collect()` in Catalyst's internal form: the same action (listeners
    * see a `collect`), without converting each row to an external `Row`.
    * Every row returned is its own object, an `UnsafeRow` as a physical
    * plan's collect yields them.
    */
  def collectInternal(df: DataFrame): Array[UnsafeRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
      .map(_.asInstanceOf[UnsafeRow])
  }
}
