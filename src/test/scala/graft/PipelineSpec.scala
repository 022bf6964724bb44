package graft

import graft.elb.ElbFixtures
import java.nio.file.Files

class PipelineSpec extends SparkSpec {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
  import org.apache.spark.sql.functions._

  private val sentinel = "pipeline-spec-sentinel"

  /** The listener events of the jobs and SQL executions `body` starts,
    * in order, up to a sentinel job run after it. Events arrive in the
    * order they were posted: once the sentinel is seen, every job the
    * body started has been recorded. */
  private def recorded(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    def isSentinel(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart => j.properties.getProperty("spark.jobGroup.id") == sentinel
      case _ => false
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = seen.add(e)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      def events = seen.toArray(Array.empty[SparkListenerEvent]).toSeq
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!events.exists(isSentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      events.takeWhile(!isSentinel(_))
    } finally sc.removeSparkListener(listener)
  }

  lazy val outDir = {
    val out = Files.createTempDirectory("pipeline-out").toString
    val fixture = ElbFixtures.standardFixture()
    Pipeline.run(spark, Pipeline.Config(
      Seq(fixture), out, s"$out/ip_geolocation_cache.parquet"))
    out
  }

  test("cleaned logs: hive layout with zero-padded partitions, time stringified") {
    val dirs = new java.io.File(s"$outDir/cleaned_logs").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("year=2025")))
    val months = new java.io.File(s"$outDir/cleaned_logs/year=2025").listFiles().map(_.getName)
    assert(months.contains("month=05"))
    val df = spark.read.parquet(s"$outDir/cleaned_logs")
    assert(df.count() > 0)
    // time is an Eastern local string with offset, e.g. 2025-05-26 19:55:02-0400
    val t = df.select("time").collect().head.getString(0)
    assert(t.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}[+-]\d{4}"""))
    // null-countryCode rows are absent (pandas null-group semantics)
    assert(df.filter(col("countryCode").isNull).count() == 0)
  }

  test("hourly aggregation has the nine measures and non-null group keys") {
    val agg = spark.read.parquet(s"$outDir/aggregated_stats/hourly_traffic_by_geo.parquet")
    val expected = Set("request_year", "request_month", "request_day", "request_hour",
      "countryName", "city", "request_count", "unique_client_ips_count",
      "average_total_processing_time", "median_total_processing_time",
      "sum_sent_bytes", "sum_received_bytes", "count_2xx", "count_4xx", "count_5xx")
    assert(agg.columns.toSet == expected)
    assert(agg.count() > 0)
    assert(agg.filter(col("countryName").isNull || col("city").isNull).count() == 0)
  }

  test("error report CSV contains only 4xx/5xx rows with the 13 columns") {
    val err = spark.read.option("header", "true").csv(s"$outDir/reports/error_summary_geo.csv")
    assert(err.columns.length == 13)
    assert(err.count() > 0) // fixture has 404/503/503 rows
    assert(err.select("elb_status_code").collect()
      .forall(r => { val c = r.getString(0).toInt; c >= 400 && c < 600 }))
  }

  test("bot reports: details parquet + origin summary CSV") {
    val bots = spark.read.parquet(s"$outDir/reports/bot_traffic_details.parquet")
    assert(bots.count() == 1) // one Googlebot line in the fixture
    val summary = spark.read.option("header", "true")
      .csv(s"$outDir/reports/bot_traffic_by_origin_summary.csv")
    assert(summary.columns.toSeq == Seq("countryName", "isp", "bot_request_count"))
  }

  test("second run reuses the geo cache (no resolver calls) and overwrites cleanly") {
    import graft.elb.{ElbParser, Sinks}
    import graft.geo.{GeoCache, GeoRecord, GeoResolver, OfflineGeoResolver}
    // records every resolve call; the geo side effect must stay once per
    // run even though the sinks now read the enriched frame concurrently
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val counting = new GeoResolver {
      private val inner = new OfflineGeoResolver()
      def resolve(ips: Seq[String]): Seq[GeoRecord] = { calls.add(ips); inner.resolve(ips) }
    }
    val fixture = ElbFixtures.standardFixture()
    val out = Files.createTempDirectory("pipeline-geo").toString
    val cache = s"$out/ip_geolocation_cache.parquet"
    def runCounted(): Seq[Seq[String]] = {
      calls.clear()
      Pipeline.run(spark, Pipeline.Config(Seq(fixture), out, cache, counting))
      calls.toArray(Array.empty[Seq[String]]).toSeq
    }
    val ips = ElbParser.parse(spark, Seq(fixture)).select("client_ip")
      .where(col("client_ip").isNotNull).distinct().collect().map(_.getString(0)).toSet
    // cold cache: one call, for every distinct IP
    val cold = runCounted()
    assert(cold.size == 1 && cold.head.toSet == ips && cold.head.size == ips.size)
    // two IPs dropped from the cache: one call, for exactly those two
    val dropped = ips.toSeq.sorted.take(2)
    // collect before deleting: Spark cannot overwrite a path it still reads lazily
    val kept = GeoCache.load(spark, cache).filter(!col("query").isin(dropped: _*)).collect()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cache))
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), graft.elb.ElbSchema.geo)
      .write.parquet(cache)
    val partial = runCounted()
    assert(partial.size == 1 && partial.head.sorted == dropped)

    val sample = Pipeline.run(spark, Pipeline.Config(
      Seq(fixture), outDir, s"$outDir/ip_geolocation_cache.parquet",
      resolver = _ => throw new IllegalStateException("cache should be warm")))
    assert(spark.read.parquet(s"$outDir/cleaned_logs").count() > 0)
    assert(sample.size == 5 && sample == Sinks.sampleJson(ElbParser.parse(spark, Seq(fixture))))
  }

  test("a repeated run over the same input compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the warm geo cache of the first run, so both runs plan the same queries
    def run(): Seq[String] = Pipeline.run(spark, Pipeline.Config(
      Seq(ElbFixtures.standardFixture()), outDir, s"$outDir/ip_geolocation_cache.parquet"))
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0,
      "the second run compiled classes the first one had compiled")
  }

  test("a failing sink fails the run after the other sinks finish, leaving nothing behind") {
    val out = Files.createTempDirectory("pipeline-fail")
    // a regular file where the reports directory belongs: the error and
    // bot sinks cannot create their outputs, cleaned and hourly can
    Files.write(out.resolve("reports"), Array[Byte](1))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      Pipeline.run(spark, Pipeline.Config(
        Seq(ElbFixtures.standardFixture()), out.toString, s"$out/geo.parquet"))
    }
    // error report fails first in sink order; the bot reports' failure rides
    // along (Spark may attach a caller-stack marker of its own, not an IOException)
    assert(e.isInstanceOf[java.io.IOException], e)
    assert(e.getSuppressed.count(_.isInstanceOf[java.io.IOException]) == 1,
      s"expected one suppressed sink failure in ${e.getSuppressed.toSeq}")
    assert(Files.isRegularFile(out.resolve("reports")))

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (rel <- Seq("cleaned_logs", "aggregated_stats/hourly_traffic_by_geo.parquet")) {
      assert(Files.exists(out.resolve(s"$rel/_SUCCESS")), s"$rel not committed")
      assert(rows(spark.read.parquet(s"$out/$rel").drop("log_source_file")) ==
        rows(spark.read.parquet(s"$outDir/$rel").drop("log_source_file")), s"$rel incomplete")
    }
    // the persisted frame was released despite the failure
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
    import scala.jdk.CollectionConverters._
    val poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(Pipeline.SinkThreadPrefix))
    poolThreads.foreach(_.join(10000)) // a finished worker may still be unwinding
    assert(poolThreads.forall(!_.isAlive), s"pool threads left: ${poolThreads.map(_.getName)}")
  }

  test("sink jobs carry the calling thread's job group, per call") {
    val sc = spark.sparkContext
    val fixture = ElbFixtures.standardFixture()
    def runIn(group: String): Seq[String] = recorded {
      sc.setJobGroup(group, group)
      try Pipeline.run(spark, Pipeline.Config(Seq(fixture),
        Files.createTempDirectory("pipeline-group").toString,
        Files.createTempDirectory("pipeline-group-geo").resolve("c.parquet").toString))
      finally sc.clearJobGroup()
    }.collect { case j: SparkListenerJobStart =>
      String.valueOf(j.properties.getProperty("spark.jobGroup.id"))
    }
    val first = runIn("pipeline-group-a")
    // parse/geo jobs, the sample and at least five sink writes
    assert(first.size > 6 && first.forall(_ == "pipeline-group-a"), first)
    // a second call from another thread, under another group, must not
    // reuse threads that still carry the first group
    var second: scala.util.Try[Seq[String]] = null
    val other = new Thread(() => second = scala.util.Try(runIn("pipeline-group-b")))
    other.start()
    other.join()
    assert(second.get.size > 6 && second.get.forall(_ == "pipeline-group-b"), second)
  }

  test("the sinks read staged rows: no columnar cache in any plan, three jobs fewer") {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    // jobs the same run started when the sinks read the frame through a
    // columnar cache (InMemoryRelation): each sink's adaptive plan then
    // submitted a job of its own to materialize the cache
    val columnarCacheJobs = 19
    val out = Files.createTempDirectory("pipeline-jobs")
    val events = recorded(Pipeline.run(spark, Pipeline.Config(
      Seq(ElbFixtures.standardFixture()), out.toString, s"$out/geo.parquet")))
    val jobs = events.count(_.isInstanceOf[SparkListenerJobStart])
    val plans = events.collect {
      case e: SparkListenerSQLExecutionStart => e.physicalPlanDescription
      case e: SparkListenerSQLAdaptiveExecutionUpdate => e.physicalPlanDescription
    }
    assert(plans.exists(_.contains("InsertIntoHadoopFsRelationCommand")), plans)
    for (p <- plans)
      assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), p)
    assert(jobs <= columnarCacheJobs - 3, s"$jobs jobs, against $columnarCacheJobs")
  }

  test("an input that breaks after the geo stage fails the run while staging, releasing its rows") {
    import graft.geo.{GeoRecord, GeoResolver, OfflineGeoResolver}
    val input = java.nio.file.Paths.get(ElbFixtures.standardFixture())
    val out = Files.createTempDirectory("pipeline-corrupt")
    // the resolver runs after the geo stage has read the input and before
    // the feature frame is staged: it leaves a corrupt .gz behind
    val corrupting = new GeoResolver {
      def resolve(ips: Seq[String]): Seq[GeoRecord] = {
        Files.write(input, "this is not gzip".getBytes("UTF-8"))
        new OfflineGeoResolver().resolve(ips)
      }
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      Pipeline.run(spark, Pipeline.Config(
        Seq(input.toString), out.toString, s"$out/geo.parquet", corrupting))
    }
    // the read failure itself, not an error raised while reporting it
    assert(String.valueOf(e.getMessage).contains("FAILED_READ_FILE"), e)
    assert(Files.exists(out.resolve("geo.parquet")), "the geo stage did not finish")
    // staging failed on the calling thread, so no sink was started
    assert(Files.list(out).toArray.toSeq.map(_.toString.split('/').last) == Seq("geo.parquet"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
  }

  test("a run logs no ERROR line") {
    val out = Files.createTempDirectory("pipeline-log")
    val (_, errors) = LogCapture.lines(org.apache.logging.log4j.Level.ERROR) {
      Pipeline.run(spark, Pipeline.Config(
        Seq(ElbFixtures.standardFixture()), out.toString, s"$out/geo.parquet"))
    }
    assert(errors.isEmpty, errors.mkString("\n"))
  }
}
