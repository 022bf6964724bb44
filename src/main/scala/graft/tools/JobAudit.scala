package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import java.util.concurrent.atomic.AtomicLong

/** One-off audit: how many Spark jobs / stages / tasks does each query
  * launch for a single noop-sink run? Many-small-jobs shapes are
  * latency-noise-sensitive under harness load (each job pays scheduler
  * round-trip latency that dwarfs its compute at small SF) — this tool
  * localizes them. Usage:
  *   runMain graft.tools.JobAudit <sfDir> <query-filter>
  * (`SparkEntry.filterTerms` syntax: comma-separated name substrings)
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: JobAudit <sfDir> <query-filter>")
    val Array(sfDir, filter) = args
    val spark = graft.GraftSession() // the session Bench and Verify run on
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
    val names = graft.SparkEntry.selectQueries(Some(filter))
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
