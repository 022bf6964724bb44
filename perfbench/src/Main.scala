package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * Untraced (`--trace 0`): set-up, a first pass, then warm passes until
  * `--seconds` have elapsed (at least [[minWarm]]), then the output checks.
  * Prints the end-to-end metrics. Traced (`--trace 1`): set-up, a first
  * pass, one untraced warm pass, then the same pass replayed with spans
  * around each layer call. Prints the per-layer metrics.
  *
  * The last stdout line is the result object; the line before it carries
  * drift evidence (load average at start and end, the q000 control time).
  */
object Main {

  val catalogIterative: Seq[String] =
    Seq("q000_scheduler_control", "q102_pagerank", "q161_dbscan")

  /** elb_etl corpus size: lines, gzip files, Zipf rank space of client IPs. */
  val elbLines = 12000
  val elbFiles = 16
  val elbIpSpace = 3600

  val cores = 4
  val setupRepeats = 3
  val minWarm = 2

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "pass_cpu_s" -> "s", "first_pass_s" -> "s", "retained_heap_mb" -> "MiB")

  val perLayer: Seq[(String, String)] = Seq(
    "elb.parse_s" -> "s", "elb.parse_lines_per_s" -> "lines/s", "elb.rejected_lines" -> "count",
    "sources.elb_v2_parse_s" -> "s",
    "geo.enrich_call_s" -> "s", "geo.join_s" -> "s", "geo.misses" -> "count",
    "geo.hit_ratio" -> "ratio",
    "features.s" -> "s", "features.shuffle_write_mb" -> "MiB",
    "sinks.persist_s" -> "s", "sinks.cleaned_s" -> "s", "sinks.hourly_s" -> "s",
    "sinks.errors_s" -> "s", "sinks.bots_s" -> "s", "sinks.files" -> "count",
    "sinks.mb_written" -> "MiB") ++
    catalogIterative.flatMap { q =>
      Seq(s"queries.$q.build_s" -> "s", s"queries.$q.exec_s" -> "s", s"queries.$q.jobs" -> "count")
    } ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.actions" -> "count", "spark.core_util" -> "ratio",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.task_s" -> "s", "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.peak_exec_mem_mb" -> "MiB",
    "storage.held_mb" -> "MiB", "storage.blocks" -> "count",
    "trace.overhead_ratio" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, work: Path, spans: Path, expected: Path)

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Live heap after repeated full GCs, with pauses between them so the
    * ContextCleaner can release what each GC found unreachable
    * (broadcasts, shuffles, checkpointed RDDs). */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(700) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Counters.MiB
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "unavailable" }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole JVM has used: task, driver, JIT and GC threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def number(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  /** Expected digests: one `"name": "digest"` pair per line of a flat JSON object. */
  def readDigests(p: Path): Map[String, String] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    pair.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("data")), Paths.get(m("work")), Paths.get(m("spans")),
      Paths.get(m("expected")))
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--establish")) Establish.run(Paths.get(args(1)), Paths.get(args(2)))
    else run(parse(args))

  def run(o: Opts): Unit = {
    val loadStart = loadavg()
    val spark = session(o.work)
    val counters = new Counters(spark)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w: Workload = o.workload match {
      case "elb_etl" => new ElbEtl(spark, o.work, o.seed, elbLines, elbFiles, elbIpSpace)
      case "catalog_iterative" =>
        new Catalog(spark, o.data.toString, catalogIterative, readDigests(o.expected))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = sessionS + median((1 to setupRepeats).map(_ => seconds(w.prepare())))

    var attempted = 0L
    var failed = 0L
    val passCpu = mutable.ArrayBuffer.empty[Double]
    def timedPass(): Double = {
      w.reset()
      var bad = 0
      val cpu0 = cpuSeconds()
      val s = seconds { bad = w.pass() }
      passCpu += cpuSeconds() - cpu0
      attempted += w.opsPerPass; failed += bad
      s
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[Check]
    val t0 = System.nanoTime()
    val first = timedPass()
    w.afterFirstPass()
    var notes = Map.empty[String, Double]
    var passes = Seq(first)
    if (!o.trace) {
      val warm = mutable.ArrayBuffer.empty[Double]
      while (warm.size < minWarm || (System.nanoTime() - t0) / 1e9 < o.seconds)
        warm += timedPass()
      val heap = retainedHeapMb()
      checks ++= w.check()
      val passS = median(warm.toSeq)
      metrics ++= Seq("setup_s" -> setupS, "pass_s" -> passS,
        "pass_cpu_s" -> median(passCpu.drop(1).toSeq), "first_pass_s" -> first,
        "retained_heap_mb" -> heap)
      notes = w.notes(passS)
      passes ++= warm
    } else {
      val untraced = timedPass()
      passes :+= untraced
      w.reset()
      val tracer = new Tracer(s"${o.workload}-seed${o.seed}")
      val t = w.traced(tracer, counters)
      attempted += w.opsPerPass
      checks ++= t.checks
      metrics ++= t.metrics
      val e = t.engine
      metrics ++= Seq("spark.jobs" -> e.jobs.toDouble, "spark.stages" -> e.stages.toDouble,
        "spark.tasks" -> e.tasks.toDouble, "spark.actions" -> e.actions.toDouble,
        "spark.core_util" -> e.taskS / (t.passS * cores),
        "spark.shuffle_write_mb" -> e.shuffleWriteMb, "spark.shuffle_read_mb" -> e.shuffleReadMb,
        "spark.spill_mb" -> e.spillMb, "spark.task_s" -> e.taskS, "spark.cpu_s" -> e.cpuS,
        "spark.gc_s" -> e.gcS, "spark.peak_exec_mem_mb" -> e.peakExecMb,
        "storage.held_mb" -> t.held._1, "storage.blocks" -> t.held._2.toDouble,
        "trace.overhead_ratio" -> t.passS / untraced)
      tracer.write(o.spans)
    }
    attempted += checks.size
    failed += checks.count(!_.ok)
    w.reset()
    val controlS = seconds(Workload.noop(
      SparkEntry.queries("q000_scheduler_control")(spark, o.data.toString)))
    val loadEnd = loadavg()
    spark.stop()

    checks.filterNot(_.ok).foreach(c => System.err.println(s"[bench] check failed: ${c.name}: ${c.detail}"))
    val names = if (o.trace) perLayer else endToEnd
    val body = names.map { case (n, unit) =>
      s"${quote(n)}: {${quote("value")}: ${number(metrics.getOrElse(n, 0.0))}, ${quote("unit")}: ${quote(unit)}}"
    }.mkString("{", ", ", "}")
    val noteJson = (notes + ("fail_ratio" -> failed.toDouble / attempted))
      .toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}: ${number(v)}" }.mkString(", ")
    println(s"""{"checks": ${checks.size}, "checks_failed": ${checks.count(!_.ok)}, $noteJson, "pass_s": ${passes.map(number).mkString("[", ", ", "]")}}""")
    println(s"""{"drift": {"loadavg_start": ${quote(loadStart)}, "loadavg_end": ${quote(loadEnd)}, "q000_scheduler_control_s": ${number(controlS)}}}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
    System.out.flush()
  }
}
