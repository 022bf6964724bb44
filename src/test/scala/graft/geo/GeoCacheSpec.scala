package graft.geo

import graft.SparkSpec
import graft.elb.{ElbFixtures, ElbParser, ElbSchema}
import java.nio.file.Files
import java.sql.Timestamp

class GeoCacheSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("load returns empty frame with canonical schema when cache absent") {
    val df = GeoCache.load(spark, "/tmp/does-not-exist-geo.parquet")
    assert(df.schema == ElbSchema.geo)
    assert(df.count() == 0)
  }

  test("offline resolver is deterministic and failure-shaped") {
    val r = new OfflineGeoResolver()
    val a = r.resolve(Seq("1.2.3.4", "5.6.7.8"))
    val b = r.resolve(Seq("1.2.3.4", "5.6.7.8"))
    assert(a == b)
    assert(a.forall(g => g.status == "success" || g.status == "fail"))
    assert(a.forall(_.query.nonEmpty))
  }

  test("load keeps the newest row per query across files") {
    import spark.implicits._
    val path = Files.createTempDirectory("geo").resolve("cache.parquet").toString
    def rec(country: String, ts: String) = Seq(GeoRecord("success", None, Some(country),
      None, None, None, None, None, None, None, "9.9.9.9", Timestamp.valueOf(ts))).toDF()
    // the newer row is written first: the timestamp decides, not file order
    GeoCache.append(rec("NewLand", "2025-01-02 00:00:00"), path)
    GeoCache.append(rec("OldLand", "2025-01-01 00:00:00"), path)
    assert(Files.list(java.nio.file.Paths.get(path)).toArray
      .count(_.toString.endsWith(".parquet")) == 2)
    val loaded = GeoCache.load(spark, path)
    assert(loaded.schema == ElbSchema.geo)
    val rows = loaded.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("country") == "NewLand")
  }

  test("miss resolution is bounded per run and converges across runs") {
    import spark.implicits._
    val cachePath = Files.createTempDirectory("geo").resolve("cache.parquet").toString
    val logs = (1 to 10).map(i => s"10.0.0.$i").toDF("client_ip")
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    val counting = new GeoResolver {
      private val inner = new OfflineGeoResolver()
      def resolve(ips: Seq[String]) = { calls += ips.size; inner.resolve(ips) }
    }
    GeoCache.enrich(spark, logs, cachePath, counting, maxMissesPerRun = 4)
    assert(calls.toSeq == Seq(4), "first run must resolve exactly the cap")
    assert(GeoCache.load(spark, cachePath).count() == 4)
    GeoCache.enrich(spark, logs, cachePath, counting, maxMissesPerRun = 4)
    GeoCache.enrich(spark, logs, cachePath, counting, maxMissesPerRun = 4)
    assert(calls.toSeq == Seq(4, 4, 2),
      "successive runs must retire the deferred backlog")
    assert(GeoCache.load(spark, cachePath).count() == 10)
    // the cache is complete: a further run must not touch the resolver
    GeoCache.enrich(spark, logs, cachePath, new GeoResolver {
      def resolve(ips: Seq[String]) =
        throw new IllegalStateException("resolver must not be called on full cache")
    }, maxMissesPerRun = 4)
  }

  test("capped miss selection is deterministic and counts the true remainder") {
    import spark.implicits._
    val logs = (1 to 10).map(i => s"10.0.0.$i").toDF("client_ip")
    val empty = GeoCache.load(spark, "/tmp/does-not-exist-geo.parquet")
    // lexicographic order of 10.0.0.1..10 puts 10.0.0.10 second
    val (ips, deferred) = GeoCache.selectMisses(spark, logs, empty, 4)
    assert(ips == Seq("10.0.0.1", "10.0.0.10", "10.0.0.2", "10.0.0.3"),
      "selection must be the lexicographically-first cap-many misses")
    assert(deferred == 6L)
    // repartitioned input: same slice regardless of layout
    val (ips2, _) = GeoCache.selectMisses(spark, logs.repartition(7), empty, 4)
    assert(ips2 == ips)
    // backlog == cap exactly: complete run, nothing deferred
    val (all, none) = GeoCache.selectMisses(spark, logs, empty, 10)
    assert(all.size == 10 && none == 0L)
  }

  test("concurrent enrich runs on one cache keep every row and lose no file") {
    import spark.implicits._
    val cachePath = Files.createTempDirectory("geo").resolve("cache.parquet").toString
    val inputs = Seq(30 to 90, 1 to 60).map(_.map(i => s"10.0.1.$i").toDF("client_ip"))
    // both runs select their misses before either writes, so 30..60 is
    // resolved (and written) by both
    val bothResolving = new java.util.concurrent.CyclicBarrier(2)
    val resolver = new GeoResolver {
      private val inner = new OfflineGeoResolver()
      def resolve(ips: Seq[String]) = {
        bothResolving.await(60, java.util.concurrent.TimeUnit.SECONDS)
        inner.resolve(ips)
      }
    }
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Long]]()
    val threads = inputs.zipWithIndex.map { case (logs, i) =>
      new Thread(() => results.put(i,
        try Right(GeoCache.enrich(spark, logs, cachePath, resolver).count())
        catch { case t: Throwable => Left(t) }))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    for ((logs, i) <- inputs.zipWithIndex)
      assert(results.get(i) == Right(logs.count()), s"run $i: ${results.get(i)}")
    val cache = GeoCache.load(spark, cachePath)
    assert(cache.count() == 90)
    assert(cache.select("query").distinct().count() == 90)
  }

  test("an IP with two cache rows, as concurrent runs leave it, is a hit") {
    import spark.implicits._
    val cachePath = Files.createTempDirectory("geo").resolve("cache.parquet").toString
    def rec(ts: String) = Seq(GeoRecord("success", None, Some("Twice"), None, None, None,
      None, None, None, None, "10.0.3.1", Timestamp.valueOf(ts))).toDF()
    GeoCache.append(rec("2025-01-01 00:00:00"), cachePath)
    GeoCache.append(rec("2025-01-02 00:00:00"), cachePath)
    val logs = Seq("10.0.3.1", "10.0.3.2", "10.0.3.1").toDF("client_ip")
    val raw = spark.read.schema(ElbSchema.geo).parquet(cachePath)
    assert(raw.count() == 2)
    for (cache <- Seq(raw, GeoCache.load(spark, cachePath)))
      assert(GeoCache.selectMisses(spark, logs, cache, 10) == (Seq("10.0.3.2"), 0L))
    val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val counting = new GeoResolver {
      private val inner = new OfflineGeoResolver()
      def resolve(ips: Seq[String]) = { calls += ips; inner.resolve(ips) }
    }
    val enriched = GeoCache.enrich(spark, logs, cachePath, counting)
    assert(calls.toSeq == Seq(Seq("10.0.3.2")))
    // the duplicate cache rows still join as one, so no log row is repeated
    assert(enriched.count() == 3)
    assert(enriched.filter(col("countryName") === "Twice").count() == 2)
  }

  test("enrich reads the cache in one action per call and aggregates it in none") {
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val cachePath = Files.createTempDirectory("geo-loads").resolve("cache.parquet").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sentinel = "geo_loads_sentinel"
    // the columns of every scan of the cache directory in `p`
    def cacheColumns(p: LogicalPlan) = AttributeSet(p.collect {
      case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.location.rootPaths.exists(_.toUri.getPath == cachePath) => l.output
    }.flatten)
    // the plans of the actions one enrich call runs, plus one on its result
    def actionsPerCall(logs: org.apache.spark.sql.DataFrame): Seq[LogicalPlan] = {
      plans.clear()
      // read a cache column: a bare count() lets the optimizer drop the join
      GeoCache.enrich(spark, logs, cachePath, new OfflineGeoResolver())
        .select("countryName").collect()
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = plans.toArray(Array.empty[LogicalPlan]).toSeq
      while (!seen.exists(_.output.exists(_.name == sentinel)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.filterNot(_.output.exists(_.name == sentinel))
    }
    def cacheReads(actions: Seq[LogicalPlan]): Int = {
      for (p <- actions; a <- p.collect { case a: Aggregate => a })
        assert(!a.references.exists(cacheColumns(p).contains), s"aggregate over the cache:\n$a")
      actions.count(cacheColumns(_).nonEmpty)
    }
    spark.listenerManager.register(listener)
    try {
      def ips(n: Int) = (1 to n).map(i => s"10.0.4.$i").toDF("client_ip")
      // an absent cache (nothing to read: the fresh rows are joined from
      // memory), a cache with misses to append, a cache that holds every IP
      assert(cacheReads(actionsPerCall(ips(5))) == 0)
      assert(cacheReads(actionsPerCall(ips(8))) == 1)
      assert(cacheReads(actionsPerCall(ips(8))) == 1)
    } finally spark.listenerManager.unregister(listener)
  }

  test("load keeps the row max(struct(api_fetch_timestamp, rest...)) keeps, ties included") {
    import spark.implicits._
    val path = Files.createTempDirectory("geo-ties").resolve("cache.parquet").toString
    val t1 = Timestamp.valueOf("2025-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2025-01-02 00:00:00")
    def rec(ip: String, ts: Timestamp, country: Option[String] = Some("C"),
        lat: Option[Double] = Some(1.0), lon: Option[Double] = Some(1.0),
        isp: Option[String] = Some("isp")) =
      GeoRecord("success", None, country, None, None, None, Some("city"), lat, lon, isp, ip, ts)
    // three files, so each IP's rows arrive from different files and in
    // different orders; each IP has at least three rows
    val files = Seq(
      Seq(
        rec("10.0.5.1", t1, country = None), rec("10.0.5.2", t2, lat = Some(-0.0), lon = Some(2.0)),
        rec("10.0.5.3", t2, lat = Some(Double.NaN), lon = None), rec("10.0.5.4", null),
        rec("10.0.5.5", t2, isp = None)),
      Seq(
        rec("10.0.5.1", t1, country = Some("B")), rec("10.0.5.2", t2, lat = Some(0.0), lon = Some(1.0)),
        rec("10.0.5.3", t2, lat = Some(5.0), lon = Some(9.0)), rec("10.0.5.4", t1, country = None),
        rec("10.0.5.5", t2, isp = Some("a"))),
      Seq(
        rec("10.0.5.1", t1, country = Some("A")), rec("10.0.5.2", t2, lat = Some(-1.0), lon = Some(3.0)),
        rec("10.0.5.3", t2, lat = Some(Double.NaN), lon = Some(0.0)),
        rec("10.0.5.4", t1, country = Some("Z"), lat = None), rec("10.0.5.5", t1, isp = Some("z"))))
    for (rows <- files) GeoCache.append(rows.toDF(), path)
    val fields = ElbSchema.geo.fieldNames.toSeq
    val ranked = ("api_fetch_timestamp" +: fields.filterNot(
      Set("query", "api_fetch_timestamp"))).map(col)
    val byMax = spark.read.schema(ElbSchema.geo).parquet(path)
      .groupBy("query").agg(max(struct(ranked: _*)).as("r"))
      .select(fields.map(f => if (f == "query") col(f) else col(s"r.$f").as(f)): _*)
    // toString tells -0.0 from 0.0, which Row equality does not
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val loaded = GeoCache.load(spark, path)
    assert(loaded.schema == ElbSchema.geo)
    assert(rows(loaded) == rows(byMax))
    assert(loaded.count() == 5)
    // -0.0 ties 0.0 and lon decides; NaN ties NaN and ranks above 5.0
    val kept = loaded.collect().map(r => r.getAs[String]("query") -> r).toMap
    assert(kept("10.0.5.2").getAs[Double]("lon") == 2.0)
    assert(kept("10.0.5.3").getAs[Double]("lon") == 0.0)
  }

  test("a leftover stage directory from a crashed append is ignored") {
    import spark.implicits._
    val cachePath = Files.createTempDirectory("geo").resolve("cache.parquet").toString
    val ghost = Seq(GeoRecord("success", None, Some("Ghost"), None, None, None, None,
      None, None, None, "10.0.2.1", Timestamp.valueOf("2030-01-01 00:00:00"))).toDF()
    ghost.write.parquet(s"$cachePath/_stage-crashed")
    assert(GeoCache.load(spark, cachePath).count() == 0)
    val logs = (1 to 3).map(i => s"10.0.2.$i").toDF("client_ip")
    val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val counting = new GeoResolver {
      private val inner = new OfflineGeoResolver()
      def resolve(ips: Seq[String]) = { calls += ips; inner.resolve(ips) }
    }
    val enriched = GeoCache.enrich(spark, logs, cachePath, counting)
    assert(calls.toSeq == Seq(Seq("10.0.2.1", "10.0.2.2", "10.0.2.3")))
    assert(enriched.count() == 3)
    assert(enriched.filter(col("countryName") === "Ghost").count() == 0)
    // the cache now has data files beside the stage dir; the listing skips it
    val cache = GeoCache.load(spark, cachePath)
    assert(cache.count() == 3)
    assert(cache.filter(col("country") === "Ghost").count() == 0)
  }

  test("end-to-end enrich: misses resolved, cache persisted, join + rename applied") {
    val cachePath = Files.createTempDirectory("geo").resolve("cache.parquet").toString
    val logs = ElbParser.parse(spark, Seq(ElbFixtures.standardFixture()))
    val enriched = GeoCache.enrich(spark, logs, cachePath, new OfflineGeoResolver())
    assert(enriched.columns.contains("countryName"))
    assert(enriched.columns.contains("query"))
    // every row got a cache hit (resolver answered every distinct IP)
    assert(enriched.filter(col("query").isNull).count() == 0)
    // cache file persisted with one row per distinct IP
    val cache = GeoCache.load(spark, cachePath)
    assert(cache.count() == logs.select("client_ip").distinct().count())
    // second run: no misses → same result, cache unchanged
    val again = GeoCache.enrich(spark, logs, cachePath, new GeoResolver {
      def resolve(ips: Seq[String]) =
        throw new IllegalStateException("resolver must not be called on full cache hit")
    })
    assert(again.count() == enriched.count())
  }
}
