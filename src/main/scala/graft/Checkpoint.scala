package graft

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import scala.concurrent.{Await, duration}

/** The round checkpoint of every convergence loop. Spark 4's
  * `localCheckpoint` keeps the checkpointed plan's estimated statistics;
  * in an iterative self-join the estimated `sizeInBytes` squares every
  * round, and by about round 20 of the q161 loop the driver spent minutes
  * in `BigInteger.multiply` before a task ran. The frame returned here
  * scans the checkpoint's own internal rows ([[GraftColumns.dataFrame]]):
  * Spark's default size, no external-`Row` conversion in its lineage.
  * Operators that checkpoint once and want the plan's statistics call
  * `localCheckpoint` themselves.
  */
object Checkpoint {

  /** `df` checkpointed eagerly, and one row observed in the checkpoint's
    * own job (no extra action): the row count, then the named aggregate
    * `metrics` over the rows. */
  def apply(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val ck = df.observe(obs, count(lit(1)).as("rows"), metrics: _*).localCheckpoint(true)
    val rows = ck.queryExecution.analyzed match { case r: LogicalRDD => r.rdd }
    (GraftColumns.dataFrame(ck.sparkSession, rows, ck.schema),
      Await.result(obs.future, duration.Duration.Inf))
  }
}
