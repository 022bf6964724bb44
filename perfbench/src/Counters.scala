package graftbench

import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.geo.{GeoRecord, GeoResolver}

/** Engine counters read from outside the program: a SparkListener for the
  * scheduler, exchange and compute layers, and a QueryExecutionListener
  * for the number of DataFrame actions. Read them with [[snapshot]] and
  * subtract two snapshots to get one interval's work. */
final class Counters(spark: SparkSession) {
  private val jobs, stages, tasks, taskMs, cpuNs, gcMs = new AtomicLong
  private val shuffleWrite, shuffleRead, spill, actions = new AtomicLong
  private val peakExec = new LongAccumulator(math.max(_, _), 0L)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExec.accumulate(m.peakExecutionMemory)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      actions.incrementAndGet()
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      actions.incrementAndGet()
  })

  /** Counter values once every event posted so far has been delivered. */
  def snapshot(): Counters.Snap = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    Counters.Snap(jobs.get, stages.get, tasks.get, taskMs.get / 1e3, cpuNs.get / 1e9,
      gcMs.get / 1e3, shuffleWrite.get / Counters.MiB, shuffleRead.get / Counters.MiB,
      spill.get / Counters.MiB, actions.get, peakExec.get / Counters.MiB)
  }

  /** Forgets the peak so the next interval reports its own. */
  def resetPeak(): Unit = peakExec.reset()

  /** Bytes and cached partitions the block manager holds right now. */
  def storage(): (Double, Long) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(i => i.memSize + i.diskSize).sum / Counters.MiB,
      info.map(_.numCachedPartitions.toLong).sum)
  }
}

object Counters {
  val MiB: Double = 1024.0 * 1024.0

  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskS: Double,
      cpuS: Double, gcS: Double, shuffleWriteMb: Double, shuffleReadMb: Double,
      spillMb: Double, actions: Long, peakExecMb: Double) {
    /** Work done between `before` and this snapshot; the peak is kept. */
    def minus(before: Snap): Snap = Snap(jobs - before.jobs, stages - before.stages,
      tasks - before.tasks, taskS - before.taskS, cpuS - before.cpuS, gcS - before.gcS,
      shuffleWriteMb - before.shuffleWriteMb, shuffleReadMb - before.shuffleReadMb,
      spillMb - before.spillMb, actions - before.actions, peakExecMb)
  }
}

/** Counts the IPs the pipeline asks its resolver for: the geo cache's
  * misses. */
final class CountingResolver(inner: GeoResolver) extends GeoResolver {
  val ips = new AtomicLong
  override def resolve(batch: Seq[String]): Seq[GeoRecord] = {
    ips.addAndGet(batch.size)
    inner.resolve(batch)
  }
}
