package graft.tools

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.elb.{ElbParser, Sinks}

/** Minimal CLI over the parse stage: `runMain graft.tools.ElbParseCli
  * <path.gz> [<path.gz> ...]` — parses ALB access logs and prints the
  * derived columns, row counts, and a JSON sample. Doubles as the
  * library's smallest end-to-end driveable surface.
  */
object ElbParseCli {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, "usage: ElbParseCli <path-or-glob> [...]")
    val df = ElbParser.parse(spark, args).cache()
    val total = df.count()
    println(s"parsed_rows=$total")
    val derived = df.select("time", "client_ip", "http_method", "hostname", "port",
      "path", "query_params", "total_processing_time_ms", "ua_browser_family",
      "ua_os_family", "is_bot", "log_source_file")
    derived.show(20, truncate = false)
    println("sample_json:")
    Sinks.sampleJson(df, 3).foreach(println)
    df.unpersist()
  }
}
