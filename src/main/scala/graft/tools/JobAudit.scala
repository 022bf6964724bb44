package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** One-off audit: how many Spark jobs / stages / tasks does each query
  * launch for a single noop-sink run? Many-small-jobs shapes are
  * latency-noise-sensitive under harness load (each job pays scheduler
  * round-trip latency that dwarfs its compute at small SF) — this tool
  * localizes them. Usage:
  *   runMain graft.tools.JobAudit <sfDir> <nameSubstr>[,<nameSubstr>...]
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only = args(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    // thread count and shuffle partitions as Bench/Verify take them
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // match Bench's coalescing floor so audits see the bench layout
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED", "1m"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicLong(0)
    val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    })
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.exists(n.contains))
    names.foreach { n => // warm both the reader caches and codegen first
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    names.foreach { n =>
      Thread.sleep(50) // let listener events drain between queries
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val t = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t) / 1e9
      Thread.sleep(200)
      println(f"[jobaudit] $n%-28s jobs=${jobs.get - j0}%3d stages=${stages.get - s0}%3d tasks=${tasks.get - t0}%5d sec=$sec%.2f")
    }
    spark.stop()
  }
}
