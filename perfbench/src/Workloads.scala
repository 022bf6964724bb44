package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, SparkEntry}
import graft.elb.{ElbParser, Features, Sinks}
import graft.geo.{GeoCache, OfflineGeoResolver}

/** One output check: `ok` feeds `failed`, `detail` is printed. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a traced pass yields: its per-layer metrics and checks, the engine
  * counters and wall time of the pass itself, and the storage it left
  * held (MiB, cached partitions) before cleanup. */
final case class Traced(metrics: Map[String, Double], checks: Seq[Check],
    engine: Counters.Snap, passS: Double, held: (Double, Long))

/** A named workload: one closed-loop client that runs `pass` back to back. */
trait Workload {
  /** Generates or loads the inputs; runs several times during set-up. */
  def prepare(): Unit
  /** Operations one pass attempts. */
  def opsPerPass: Int
  /** One timed pass; returns the operations that threw. */
  def pass(): Int
  /** Untimed work before each pass (cleanup, cache restore). */
  def reset(): Unit
  /** Untimed hook after the first pass. */
  def afterFirstPass(): Unit = ()
  /** Output checks, run once after the timed passes. */
  def check(): Seq[Check]
  /** The pass replayed layer by layer under `tracer`. */
  def traced(tracer: Tracer, counters: Counters): Traced
  /** Workload-specific figures printed beside the result. */
  def notes(passS: Double): Map[String, Double] = Map.empty
}

object Workload {
  /** Runs `body` as the span `name`; returns the engine work it did, its
    * seconds, and the storage held right after it. */
  def tracedPass(tracer: Tracer, counters: Counters, name: String)(body: => Unit)
      : (Counters.Snap, Double, (Double, Long)) = {
    counters.resetPeak()
    val before = counters.snapshot()
    tracer.span(name)(body)
    (counters.snapshot().minus(before), tracer.seconds(name), counters.storage())
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drops everything the last pass left cached, as graft.Bench does. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.reverse.foreach(Files.delete)
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
}

/** A fixed list of catalog queries, each built through `SparkEntry.queries`.
  * The first pass collects every result and checks its digest against the
  * stored DuckDB digest; later passes write to the `noop` sink. */
final class Catalog(spark: SparkSession, dataDir: String, queries: Seq[String],
    expected: Map[String, String]) extends Workload {

  private val results = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Row])]
  private var checked = Seq.empty[Check]
  private var first = true

  def opsPerPass: Int = queries.size

  def prepare(): Unit = {
    queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown query $q"))
    Files.list(Paths.get(dataDir)).iterator().asScala
      .foreach(t => spark.read.parquet(t.toString).schema)
  }

  private def build(q: String): DataFrame = SparkEntry.queries(q)(spark, dataDir)

  def pass(): Int = queries.count { q =>
    try {
      val df = build(q)
      if (first) {
        val cols = df.columns.sorted.toSeq
        results(q) = cols -> df.select(cols.map(df.col): _*).collect().toSeq
      } else Workload.noop(df)
      false
    } catch { case e: Exception => System.err.println(s"[bench] $q failed: $e"); true }
  }

  override def afterFirstPass(): Unit = {
    first = false
    checked = queries.map { q =>
      val want = expected.getOrElse(q, "<none>")
      results.get(q).map { case (cols, rows) => Digest.of(cols, rows) } match {
        case Some(got) => Check(s"$q digest", got == want, s"got $got want $want")
        case None => Check(s"$q digest", ok = false, "query failed")
      }
    }
    results.clear()
  }

  def reset(): Unit = Workload.cleanup(spark)

  def check(): Seq[Check] = checked

  def traced(tracer: Tracer, counters: Counters): Traced = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[Check]
    val (engine, passS, held) = Workload.tracedPass(tracer, counters, "catalog.pass") {
      queries.foreach { q =>
        val before = counters.snapshot()
        try {
          val df = tracer.span(s"queries.$q.build")(build(q))
          tracer.span(s"queries.$q.exec")(Workload.noop(df))
        } catch { case e: Exception => failed += Check(s"$q traced", ok = false, e.toString) }
        m(s"queries.$q.build_s") = tracer.seconds(s"queries.$q.build")
        m(s"queries.$q.exec_s") = tracer.seconds(s"queries.$q.exec")
        m(s"queries.$q.jobs") = counters.snapshot().minus(before).jobs.toDouble
      }
    }
    Traced(m.toMap, failed.toSeq ++ checked, engine, passS, held)
  }
}

/** `Pipeline.run` over a seeded corpus, with the geo cache restored to its
  * pre-seeded copy before every run. */
final class ElbEtl(spark: SparkSession, work: Path, seed: Long, lines: Int,
    files: Int, ipSpace: Int) extends Workload {

  private val input = work.resolve("elb-input")
  private val seededCache = work.resolve("elb-geo-seeded")
  private val cache = work.resolve("elb-geo-cache")
  private val out = work.resolve("elb-out")
  private def glob = input.resolve("*.log.gz").toString
  private val resolver = new CountingResolver(new OfflineGeoResolver())
  private var planted: Planted = _

  def opsPerPass: Int = 1

  def prepare(): Unit = {
    Workload.deleteTree(input)
    Workload.deleteTree(seededCache)
    val (p, geoRows) = new ElbCorpus(seed, lines, files, ipSpace).write(input)
    import spark.implicits._
    geoRows.toDF().select(graft.elb.ElbSchema.geo.fieldNames.map(col).toSeq: _*)
      .coalesce(1).write.parquet(seededCache.toString)
    planted = p
  }

  private def config = Pipeline.Config(Seq(glob), out.toString, cache.toString, resolver)

  def pass(): Int =
    try { Pipeline.run(spark, config); 0 }
    catch { case e: Exception => System.err.println(s"[bench] Pipeline.run failed: $e"); 1 }

  def reset(): Unit = {
    Workload.cleanup(spark)
    Workload.deleteTree(cache)
    Workload.copyTree(seededCache, cache)
    resolver.ips.set(0)
  }

  private val sinkPaths = Seq(
    "cleaned" -> "cleaned_logs",
    "hourly" -> "aggregated_stats/hourly_traffic_by_geo.parquet",
    "errors" -> "reports/error_summary_geo.csv",
    "bots" -> "reports/bot_traffic_details.parquet",
    "bot_origins" -> "reports/bot_traffic_by_origin_summary.csv")

  private def readSink(rel: String): DataFrame = {
    val p = out.resolve(rel).toString
    if (rel.endsWith(".csv")) spark.read.option("header", "true").csv(p)
    else spark.read.parquet(p)
  }

  /** Row digest of each sink as written by the last run. */
  def sinkDigests(): Map[String, String] =
    sinkPaths.map { case (k, rel) => k -> Digest.of(readSink(rel)) }.toMap

  private def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong

  /** Sink row counts against what the generator planted, the bot-origin
    * summary against its planted content, and the resolver's workload
    * against the planted new-IP share. */
  def plantedChecks(d: Map[String, String]): Seq[Check] = {
    def count(name: String, got: Long, want: Long) =
      Check(s"$name rows", got == want, s"got $got want $want")
    val origins = readSink(sinkPaths.last._2).collect().map { r =>
      (r.getString(0), r.getString(1)) -> r.getString(2).toLong
    }.toMap
    Seq(
      count("cleaned", rows(d("cleaned")), planted.cleanedRows),
      count("hourly", rows(d("hourly")), planted.hourlyRows),
      count("errors", rows(d("errors")), planted.errors),
      count("bots", rows(d("bots")), planted.bots),
      Check("bot_origins content", origins == planted.botsByOrigin,
        s"got ${origins.size} groups want ${planted.botsByOrigin.size}"),
      count("geo misses", resolver.ips.get, planted.newIps))
  }

  private var firstDigests: Map[String, String] = Map.empty

  /** The first run's sinks are the reference for later runs. */
  override def afterFirstPass(): Unit = firstDigests = sinkDigests()

  def check(): Seq[Check] = {
    val last = sinkDigests()
    plantedChecks(last) ++ last.keys.toSeq.sorted.map { k =>
      Check(s"$k digest stable", firstDigests.get(k).contains(last(k)),
        s"first ${firstDigests.get(k)} last ${last(k)}")
    }
  }

  override def notes(passS: Double): Map[String, Double] = {
    val written = outputFiles()
    Map("etl_lines_per_s" -> lines / passS,
      "output_files" -> written.size.toDouble,
      "output_mb_per_input_mb" -> written.map(Files.size).sum.toDouble / planted.inputBytes,
      "new_ip_share" -> planted.newIpShare)
  }

  private def outputFiles(): Seq[Path] = Files.walk(out).iterator().asScala.toSeq
    .filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith("."))

  /** `Pipeline.run` replayed step by step. Lazy layers are costed by writing
    * each prefix of the chain to `noop` (parse; + geo; + features) and
    * taking the difference between consecutive prefixes. */
  def traced(tracer: Tracer, counters: Counters): Traced = {
    def stepped(name: String)(body: => Unit): Counters.Snap = {
      val before = counters.snapshot()
      tracer.span(name)(body)
      counters.snapshot().minus(before)
    }
    var featShuffle, geoShuffle = 0.0
    val (engine, passS, held) = Workload.tracedPass(tracer, counters, "pipeline") {
      val parsed = tracer.span("ElbParser.parse")(ElbParser.parse(spark, Seq(glob)))
      tracer.span("Sinks.sampleJson")(Sinks.sampleJson(parsed))
      stepped("prefix.parse")(Workload.noop(parsed))
      val enriched = tracer.span("GeoCache.enrich")(
        GeoCache.enrich(spark, parsed, cache.toString, resolver))
      geoShuffle = stepped("prefix.geo")(Workload.noop(enriched)).shuffleWriteMb
      val featured = tracer.span("Features")(Features(enriched))
      featShuffle = stepped("prefix.features")(Workload.noop(featured)).shuffleWriteMb
      val fin = featured.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        tracer.span("persist")(Workload.noop(fin))
        tracer.span("Sinks.writeCleanedLogs")(Sinks.writeCleanedLogs(fin, out.toString))
        tracer.span("Sinks.writeHourlyAggregation")(Sinks.writeHourlyAggregation(fin, out.toString))
        tracer.span("Sinks.writeErrorReport")(Sinks.writeErrorReport(fin, out.toString))
        tracer.span("Sinks.writeBotReports")(Sinks.writeBotReports(fin, out.toString))
      } finally fin.unpersist()
    }
    val misses = resolver.ips.get
    val replica = sinkDigests()
    val checks = plantedChecks(replica) ++ replica.keys.toSeq.sorted.map { k =>
      Check(s"$k traced digest", firstDigests.get(k).contains(replica(k)),
        s"untraced ${firstDigests.get(k)} traced ${replica(k)}")
    }
    val written = outputFiles()
    tracer.span("sources.elb_v2")(
      Workload.noop(ElbParser.enrich(spark.read.format("elb").load(glob))))
    val parsedRows = ElbParser.parse(spark, Seq(glob)).count()
    val parseS = tracer.seconds("prefix.parse")
    val rejected = lines - parsedRows
    val metrics = Map(
      "elb.parse_s" -> parseS,
      "elb.parse_lines_per_s" -> lines / parseS,
      "elb.rejected_lines" -> rejected.toDouble,
      "sources.elb_v2_parse_s" -> tracer.seconds("sources.elb_v2"),
      "geo.enrich_call_s" -> tracer.seconds("GeoCache.enrich"),
      "geo.join_s" -> (tracer.seconds("prefix.geo") - parseS),
      "geo.misses" -> misses.toDouble,
      "geo.hit_ratio" -> (planted.distinctIps - misses).toDouble / planted.distinctIps,
      "features.s" -> (tracer.seconds("prefix.features") - tracer.seconds("prefix.geo")),
      "features.shuffle_write_mb" -> (featShuffle - geoShuffle),
      "sinks.persist_s" -> tracer.seconds("persist"),
      "sinks.cleaned_s" -> tracer.seconds("Sinks.writeCleanedLogs"),
      "sinks.hourly_s" -> tracer.seconds("Sinks.writeHourlyAggregation"),
      "sinks.errors_s" -> tracer.seconds("Sinks.writeErrorReport"),
      "sinks.bots_s" -> tracer.seconds("Sinks.writeBotReports"),
      "sinks.files" -> written.size.toDouble,
      "sinks.mb_written" -> written.map(Files.size).sum / Counters.MiB)
    Traced(metrics, checks :+ Check("rejected lines", rejected == planted.malformed,
      s"got $rejected want ${planted.malformed}"), engine, passS, held)
  }
}
