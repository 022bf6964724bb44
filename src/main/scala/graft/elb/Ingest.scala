package graft.elb

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingest staging for the non-splittable `.gz` problem (SURVEY §7.4.10).
  *
  * Gzip ALB logs parallelize only per-file (1 file = 1 task). At 100 TB
  * the first thing a cluster should do is a *one-pass recompression* into
  * a splittable staging table: raw lines as zstd parquet, carrying the
  * originating file. Every downstream stage then parallelizes by HDFS/S3
  * split instead of by source file, and the parse projection runs over
  * balanced partitions. The pass is narrow (no shuffle, one task per
  * source file).
  */
object Ingest {

  /** Stage raw `.gz` log lines into splittable zstd parquet
    * (`value`, `log_source_file`), one task per gz file.
    */
  def recompress(spark: SparkSession, inputGlobs: Seq[String], outDir: String): Unit =
    ElbParser.readRaw(spark, inputGlobs).write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(outDir)

  /** Parse from a staged landing zone instead of raw `.gz`. */
  def parseStaged(spark: SparkSession, stagedDir: String): DataFrame =
    ElbParser.enrich(ElbParser.tokenize(spark.read.parquet(stagedDir),
      barrier = true))
}
