package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import graft.ops.TextOps

/** Streaming exact deduplication — the ingest-time guard of the dedup
  * family (SURVEY.md §2.10 streaming extension × the §2 dedup ops): as
  * documents arrive, `dropDuplicates` over the canonical text
  * fingerprint admits only first-seen content, carrying the seen-set in
  * the state store across micro-batches. Batch q19 dedups a corpus at
  * rest; this is the same fingerprint contract
  * ([[graft.ops.TextOps.fingerprint]]) applied before data lands.
  *
  * Scale shape: state is one 32-hex-digest row per distinct document —
  * the stream shuffles fingerprints (never text) once onto the state
  * partitioning. A continuous production run would bound the seen-set
  * with `dropDuplicatesWithinWatermark` (admission dedup within a
  * recency horizon) or periodic state compaction to a
  * [[graft.ops.Dedup.bloomAdmission]] corpus filter; the bounded
  * `AvailableNow` drain here has no late-data horizon to enforce.
  *
  * The emitted frame carries ONLY the fingerprint: which concrete row
  * wins admission depends on micro-batch arrival order (inherent to
  * ingest-order dedup), but the admitted fingerprint SET equals batch
  * `SELECT DISTINCT fp` under any order — that order-free contract is
  * what the q79 oracle checks.
  */
object StreamingDedup {

  /** documents parquet schema as stored (file streams need it up front). */
  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocumentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsRawSchema)
      .parquet(s"$dir/documents.parque*")

  /** First-seen admission: one row per distinct fingerprint. */
  def dedupFps(docs: DataFrame): DataFrame =
    docs.select(TextOps.fingerprint(col("text")).as("fp"))
      .dropDuplicates("fp")

  /** Drain the dedup stream to completion (append mode — stateful
    * dedup emits admitted rows as they pass, there is no aggregate to
    * re-emit Complete snapshots of).
    */
  def runAvailableNow(spark: SparkSession, dir: String,
      tableName: String): DataFrame =
    StreamingSessions.drainAvailableNow(spark,
      dedupFps(readDocumentsStream(spark, dir)), tableName,
      OutputMode.Append(),
      noDataBatch = false) // admitted rows emit as they pass, none on close
}
