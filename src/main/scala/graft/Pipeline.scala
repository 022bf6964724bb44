package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors,
  Future, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.elb.{ElbParser, Features, Sinks}
import graft.geo.{GeoCache, GeoResolver, OfflineGeoResolver}

/** The full batch pipeline — the reference's `main()` as one lazy DataFrame
  * DAG (reference: advanced_elb_logs_etl.py:395-442):
  *
  *   scan+parse → geo enrich (cached, effectful, driver-side misses) →
  *   feature windows → { cleaned parquet, hourly agg, error CSV, bot reports }
  *
  * The feature-complete frame is materialized once and fanned out to the
  * four sinks — Spark recomputes per action otherwise, which is a
  * *correctness* problem here (the geo stage is effectful), not just 4×
  * work (SURVEY.md §7.4.7). It is staged as rows: the frame's internal
  * rows, persisted MEMORY_AND_DISK (spill-safe at scale) and counted once
  * on the calling thread, then wrapped back into a DataFrame that the
  * sinks read as a plain RDD scan (`GraftColumns.dataFrame`). A columnar
  * cache would be built lazily by whichever sink got there first, and each
  * sink's adaptive plan submitted a job of its own to materialize it and
  * compiled its own column accessor and batch-stats filter. Row staging
  * keeps the lineage, so a lost block is recomputed rather than failing
  * the sinks (a local checkpoint would drop it). It holds six to seven
  * times the bytes of the compressed column cache.
  *
  * The four sink writes are independent actions over that one frame, so they
  * are submitted together: three of them end in a single-task `coalesce(1)`
  * write, which run one after another leaves the other cores idle. The
  * `limit(5)` sample job likewise runs beside the geo stage rather than
  * ahead of it. The geo side effect is untouched: `GeoCache.enrich` reads
  * the cache once, then resolves the misses and appends them to the cache
  * eagerly, once, on the calling thread.
  *
  * At the 12k-line scale a pass is priced by fixed per-plan work more than
  * by rows: a cold run compiles about 93 generated classes. Keep stages
  * few and their generated code the same from call to call: code that
  * differs per call (a limit inside generated code does) is compiled
  * again on every run, whatever the codegen cache holds. See
  * ARCHITECTURE.md, "Codegen working set".
  *
  * Failure contract: every sink runs to completion even when another fails;
  * the first failure (in sink order) is rethrown with the rest attached as
  * suppressed, and the staged rows are unpersisted only once no sink can
  * read them, on every path (a failure while staging included).
  *
  * The pool is created per call, never shared: Spark's local properties (job
  * group, description, scheduler pool) are inherited by a thread when it is
  * *created*, so threads made inside `run` carry the caller's properties,
  * while a shared pool would keep tagging jobs with whichever caller first
  * started its threads.
  */
object Pipeline {

  final case class Config(
      inputGlobs: Seq[String],
      outputDir: String,
      geoCachePath: String,
      resolver: GeoResolver = new OfflineGeoResolver())

  /** Name prefix of the sink pool's threads. */
  private[graft] val SinkThreadPrefix = "graft-pipeline-sink-"

  private val sinks: Seq[(DataFrame, String) => Unit] = Seq(
    Sinks.writeCleanedLogs,
    Sinks.writeHourlyAggregation,
    Sinks.writeErrorReport,
    Sinks.writeBotReports)

  /** Runs the pipeline; returns the sample JSON lines (reference logs them). */
  def run(spark: SparkSession, config: Config): Seq[String] = {
    val parsed = ElbParser.parse(spark, config.inputGlobs)
    val pool = newPool(sinks.size)
    try {
      val sample = pool.submit(task(Sinks.sampleJson(parsed)))
      val enriched = GeoCache.enrich(spark, parsed, config.geoCachePath, config.resolver)
      val featured = Features(enriched)
      // copy(): toRdd reuses one row buffer per partition
      val staged = featured.queryExecution.toRdd.map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        staged.count()
        val fin = GraftColumns.dataFrame(spark, staged, featured.schema)
        awaitAll(sinks.map(write => pool.submit(task(write(fin, config.outputDir)))))
      } finally staged.unpersist()
      await(sample)
    } finally {
      // every task is a Spark action the caller would otherwise have run
      // itself; waiting here means no pool thread outlives the call
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  private def newPool(threads: Int): ExecutorService = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(threads, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, SinkThreadPrefix + n.incrementAndGet())
        t.setDaemon(true)
        t
      }
    })
  }

  private def task[T](body: => T): Callable[T] = () => body

  /** The task's result, or the exception the task itself threw. */
  private def await[T](f: Future[T]): T =
    try f.get() catch { case e: ExecutionException => throw e.getCause }

  /** Waits for every future, then rethrows the first failure with the
    * others attached as suppressed. Sinks that failed on one shared cause
    * can hold the same exception object; it is kept once, since
    * `addSuppressed` rejects an exception's own self and would throw that
    * error in place of the cause. */
  private def awaitAll(futures: Seq[Future[_]]): Unit = {
    val failures = futures.flatMap { f =>
      try { f.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }.distinct
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
