package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session — suites run in
  * a forked JVM per `Test / fork := true`).
  */
object SparkSpec {
  // 4 threads whatever SPARK_GRAFT_CPUS says: the suite's session must
  // not change with the host
  lazy val spark: SparkSession = GraftSession(threads = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
