package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session every graft entry point and the spec suite run on:
  * `local[threads]` (unless Spark already received a `spark.master`, from
  * spark-submit or `-Dspark.master`), as many shuffle partitions as
  * threads unless the caller says otherwise, UTC session time, nanosecond
  * parquet timestamps read as longs, no UI, WARN logging.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envThreads: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def apply(threads: Int = envThreads,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val builder = SparkSession.builder()
    if (!new SparkConf().contains("spark.master")) builder.master(s"local[$threads]")
    val spark = builder
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(threads).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
