package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("seen-set carries across micro-batches; admitted fps = distinct") {
    val dir = java.nio.file.Files.createTempDirectory("sdedup").toString
    // batch 1 and batch 2 share content: "alpha" re-arrives in file 2
    // and must NOT be re-admitted
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f1")
    Seq((3L, "alpha beta gamma"), (4L, "eta theta iota"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/f2")
    val ckpt = java.nio.file.Files.createTempDirectory("sdedup-ckpt").toString
    val stream = spark.readStream
      .schema("doc_id long, text string")
      .option("maxFilesPerTrigger", "1") // force one file per micro-batch
      .parquet(s"$dir/f*/part-*.parquet")
    val q = StreamingDedup.dedupFps(stream).writeStream
      .format("memory").queryName("sdedup_t")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fps = spark.table("sdedup_t").as[String].collect().toSeq
    spark.catalog.dropTempView("sdedup_t")
    // 3 distinct texts among 4 docs; each admitted exactly once
    assert(fps.length == 3, s"admitted $fps")
    assert(fps.distinct.length == 3)
    val batchFps = Seq("alpha beta gamma", "delta epsilon zeta", "eta theta iota")
      .toDF("text").select(graft.ops.TextOps.fingerprint(col("text")))
      .as[String].collect().toSet
    assert(fps.toSet == batchFps)
  }

  test("near-dup admission: admitted docs reject later batches, rejected don't") {
    val base = java.nio.file.Files.createTempDirectory("sneardup").toString
    val accepted = s"$base/accepted.parquet"
    val index = s"$base/index.parquet"
    // seed corpus: one doc whose near-dups must never admit
    val seedText = "the quick brown fox jumps over the lazy dog again and again today"
    val seed = Seq((1000L, seedText)).toDF("doc_id", "text")
    seed.write.parquet(accepted)
    graft.ops.Dedup.buildNearDupIndex(seed, "text", "doc_id", index)
    val freshA = "completely original content about distributed query engines and shuffles"
    val freshB = "entirely different musings on catalyst optimizer rules and codegen stages"
    val batches = Seq(
      Seq( // batch 1
        1L -> (seedText + " extra"), // near-dup of the SEED -> rejected
        2L -> freshA,                // novel -> admitted, extends index
        3L -> (seedText + " more")), // also rejected (seed again)
      Seq( // batch 2 — the cross-batch assertions
        10L -> (freshA + " extra"),    // near-dup of batch-1 ADMITTED -> rejected
        11L -> (seedText + " third"),  // still rejected by the seed
        12L -> freshB))                // novel -> admitted
    val admitted = StreamingNearDup.admitInBatches(spark,
        batches.map(_.map { case (i, t) => (i, t) }), accepted, index,
        threshold = 0.5)
      .filter(col("doc_id") =!= 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L, 12L), s"admitted=$admitted")
    // the index grew with exactly the admitted docs: a third batch doc
    // near-dupping a REJECTED doc's novel tail admits (rejected docs do
    // not extend the index), one near-dupping an ADMITTED doc does not
    val third = Seq(Seq(20L -> (freshB + " coda"), 21L -> "fresh unrelated words entirely new content stream"))
    val after = StreamingNearDup.admitInBatches(spark, third, accepted, index,
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(!after.contains(20L), "near-dup of an admitted doc must reject")
    assert(after.contains(21L))
  }

  test("streaming rollup: cross-batch merge ≡ one-shot batch recompute") {
    import spark.implicits._
    def t(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    // user 1 hour 0 spans BOTH batches (merge must combine, not replace);
    // user 2 appears only in batch 2 (founding a new group)
    val rows = Seq((1L, t(0), 1L, 1.5), (2L, t(10), 1L, 2.5),
      (3L, t(70), 1L, 9.0), (4L, t(20), 1L, 0.5), (5L, t(5), 2L, 4.0))
    val path = java.nio.file.Files.createTempDirectory("rollup-spec")
      .resolve("state.parquet").toString
    val streamed = graft.streaming.StreamingRollup.rollupInBatches(spark,
        Seq(rows.take(2), rows.drop(2)), path)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.ops.Analytics.finalizeStats(
        graft.ops.Analytics.partialHourlyStats(
          rows.toDF("event_id", "ts", "user_id", "value")))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == oneShot)
    // the cross-batch group really merged: user 1 hour 0 counts 3 events
    val u1 = streamed.find(r => r.head == 1L && r(2) == 3L)
    assert(u1.isDefined, s"user-1 hour-0 group not merged: $streamed")
  }
}
