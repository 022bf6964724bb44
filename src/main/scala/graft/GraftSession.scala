package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session every graft entry point and the spec suite run on:
  * `local[threads]` (unless Spark already received a `spark.master`, from
  * spark-submit or `-Dspark.master`), as many shuffle partitions as
  * threads unless the caller says otherwise, UTC session time, nanosecond
  * parquet timestamps read as longs, no UI, WARN logging, and a generated
  * code cache of 1000 classes.
  */
object GraftSession {
  /** Size of Spark's JVM-wide cache of compiled generated classes, in
    * place of its default of 100. The cache is keyed by the compiling
    * thread's class loader as well as the code, and in local mode the
    * driver and the executor threads load classes through different
    * loaders, so every whole-stage-codegen stage takes two entries. One
    * `Pipeline.run` compiles about 93 classes and one pass of q000, q102
    * and q161 about 200, so at 100 entries a repeated run recompiles most
    * of them. Spark sizes the cache once, when the JVM first generates
    * code, so this holds only when that happens under this session.
    */
  private val CodegenCacheEntries = 1000

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
