package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{GraftSession, Pipeline}

/** CLI over the full pipeline:
  * `runMain graft.tools.ElbPipelineCli <in-glob> [<in-glob> ...] <out-dir>`
  * — parses ALB logs, enriches (offline resolver), feature-engineers,
  * writes the four sinks under `<out-dir>` (geo cache at
  * `<out-dir>/ip_geolocation_cache.parquet`).
  */
object ElbPipelineCli {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2,
      "usage: ElbPipelineCli <in-glob> [<in-glob> ...] <out-dir>")
    val out = args.last
    val sample = Pipeline.run(spark, Pipeline.Config(
      inputGlobs = args.init,
      outputDir = out,
      geoCachePath = s"$out/ip_geolocation_cache.parquet"))
    println("sample_json:")
    sample.foreach(println)
    println(s"outputs_under=$out")
  }
}
