package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{Graph, Relational}

class CheckpointSpec extends SparkSpec {

  /** The RDD that `df`'s plan scans, and the size Spark estimates for it. */
  private def scanned(df: DataFrame) = df.queryExecution.analyzed match {
    case r: LogicalRDD => (r.rdd, r.stats.sizeInBytes)
    case p => fail(s"not a scan of held rows:\n$p")
  }

  test("a loop's checkpoint scans the checkpointed rows and carries no size estimate") {
    import spark.implicits._
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val folded = Relational.incrementalAggFold(
      Seq(Seq(("a", 1L), ("b", 2L)), Seq(("a", 3L))).map(_.toDF("k", "v")), "k", "v")
    val closure = Graph.ancestorClosure(
      Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("c", "p"), "c", "p")
    for (df <- Seq(folded, closure)) {
      val (rdd, size) = scanned(df)
      // the checkpoint itself, not a conversion to `Row`s and back over it
      assert(rdd.isCheckpointed, rdd.toDebugString)
      assert(size == default)
    }
    assert(folded.orderBy("k").collect().toSeq == Seq(Row("a", 2L, 4L, 1L, 3L), Row("b", 1L, 2L, 2L, 2L)))
    assert(closure.count() == 6)
  }

  test("metrics are observed in the checkpoint's own job") {
    val sc = spark.sparkContext
    val sentinel = "checkpoint-spec-sentinel"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val df = spark.range(100).toDF().where(col("id") % 2 === 0)
    sc.addSparkListener(listener)
    val (ck, m) = try {
      val r = Checkpoint(df, max(col("id")).as("top"))
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      r
    } finally sc.removeSparkListener(listener)
    assert(groups.size == 2, "one job for the checkpoint, one sentinel")
    assert(m == Row(50L, 98L))
    assert(ck.schema == df.schema)
    assert(ck.collect().map(_.getLong(0)).toSeq == (0L until 100L by 2L))
    val (plain, rows) = Checkpoint(df)
    assert(rows == Row(50L))
    assert(scanned(plain)._1.isCheckpointed)
  }
}
