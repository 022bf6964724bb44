package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.Similarity

/** Streaming ingestion for the IVF vector index — the embedding-side
  * sibling of [[StreamingNearDup]]'s text admission loop: each micro-batch
  * of (id, embedding) rows is folded into the centroid-partitioned index
  * inside `foreachBatch`, so the SAME materialized index serves batch
  * builds ([[Similarity.buildIvfIndex]]), batch appends
  * ([[Similarity.appendToIvfIndex]]) and a live stream — one maintenance
  * story, not three index formats.
  *
  * Per batch the work is one assignment (a broadcast join against the
  * frozen, drift-safe centroid table) plus ONE flat staging write keyed
  * by the streaming batchId (round-16 — the per-batch full upsert
  * protocol measured ~8 jobs/batch on the 4-batch harness; staging is
  * 2). A FOLD applies the whole staged buffer through one
  * [[Similarity.upsertCentroidPartitionedIndex]] pass — max-batchId
  * latest-wins per id, so any fold schedule yields the ordered-upsert
  * result. State lives in the index table plus its durable staging
  * buffer, not the streaming state store — both survive restarts, and
  * the at-least-once crash-repair discipline (replayed batch rewrites
  * its OWN staging directory; fold is idempotent per the upsert
  * contract) is exactly what `foreachBatch`'s replayed-batch semantics
  * deliver. Searches see staged batches at the next fold — the driver
  * bounds that staleness via `foldEvery`/fold-at-stop.
  *
  * Unlike near-dup admission, ingestion is ORDER-INDEPENDENT on disjoint
  * ids: the final index is a pure function of the union of batches
  * (id-keyed upsert, frozen centroids), so any batch decomposition yields
  * the same index as one batch build — which is why the streaming query
  * shares the batch path's oracle verbatim.
  */
object StreamingIvf {

  /** One micro-batch step (round-16): STAGE the assigned batch into the
    * index's pending buffer ([[Similarity.stageIvfPendingBatch]] — one
    * flat write keyed by the streaming `batchId`, idempotent under
    * `foreachBatch`'s replay) instead of paying the full per-batch
    * upsert maintenance protocol. Staged batches become visible to
    * searches at the next [[Similarity.foldIvfPending]], which the
    * ingest driver schedules ([[ingestInBatches]] folds every
    * `foldEvery` batches and at stream stop) — the crash-repair story
    * is unchanged in kind: a replayed batch rewrites its own staging
    * directory, and the fold is idempotent by the upsert contract, so
    * "retry the failed batch, then re-fold" repairs any crash point.
    */
  def appendBatch(batch: DataFrame, centroids: DataFrame, path: String,
      batchSeq: Long, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    Similarity.stageIvfPendingBatch(batch, centroids, path, batchSeq,
      idCol, vecCol)

  /** Drive a deterministic multi-batch ingest from an in-memory source:
    * `batches(k)` becomes exactly micro-batch k, each flowing through
    * [[appendBatch]]. A production deployment swaps the memory source
    * for Kafka/files and keeps the identical `foreachBatch` body; the
    * in-memory harness makes the batch decomposition reproducible (and
    * by order-independence, irrelevant to the final index). Staged
    * batches are folded into the index after batch ids `foldEvery - 1`,
    * `2 * foldEvery - 1`, … and once more when the stream stops, so the function returns with
    * the index fully current and no pending buffer on disk.
    */
  def ingestInBatches(spark: SparkSession,
      batches: Seq[Seq[(Long, Seq[Double])]], centroids: DataFrame,
      path: String, foldEvery: Int = 32): Unit = {
    require(foldEvery >= 1, s"foldEvery must be >= 1, got $foldEvery")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Seq[Double])]
    val q = source.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatch(b.toDF(), centroids, path, id)
        // keyed on the batch id, so a restarted stream keeps the cadence
        if ((id + 1) % foldEvery == 0)
          Similarity.foldIvfPending(spark, path)
      }
      .start()
    try {
      batches.foreach { rows =>
        source.addData(rows)
        q.processAllAvailable()
      }
      Similarity.foldIvfPending(spark, path)
    } finally q.stop()
  }
}
