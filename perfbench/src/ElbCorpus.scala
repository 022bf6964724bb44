package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneId}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import graft.geo.{GeoRecord, OfflineGeoResolver}

/** What the generator planted, so the pipeline's outputs can be checked
  * against it. Row counts are per sink; `botsByOrigin` is the exact
  * content of the bot-origin summary. */
final case class Planted(
    lines: Long,
    malformed: Long,
    bots: Long,
    errors: Long,
    distinctIps: Long,
    newIps: Long,
    cleanedRows: Long,
    hourlyRows: Long,
    botsByOrigin: Map[(String, String), Long],
    inputBytes: Long) {
  def newIpShare: Double = newIps.toDouble / distinctIps
}

/** Seeded ALB access-log corpus for the `elb_etl` workload.
  *
  * Client IPs follow a Zipf law, so a few clients send most requests and
  * the per-client window block sees both long and one-line partitions.
  * About 1 % of lines are malformed (half too short, half with an
  * unparseable timestamp), about 10 % carry a bot user agent and about
  * 10 % a 4xx/5xx status. Timestamps span three days starting at a
  * seed-dependent date, so the sink's year/month/day tree stays small.
  *
  * The geo cache is pre-seeded with the resolver's answer for every
  * valid client IP except about 10 % of them; those are the misses each
  * pipeline run resolves.
  */
final class ElbCorpus(seed: Long, lines: Int, files: Int, ipSpace: Int) {

  private val resolver = new OfflineGeoResolver()
  private val zone = ZoneId.of("America/New_York")
  private val stamp = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(java.time.ZoneOffset.UTC)

  private val browsers = Vector(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/137.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Mobile/15E148 Safari/604.1",
    "curl/8.5.0",
    "-")
  private val botAgents = Vector(
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
    "python-urllib/3.11",
    "Baiduspider/2.0")
  private val okStatus = Vector("200", "200", "200", "201", "301", "304")
  private val errStatus = Vector("400", "403", "404", "404", "500", "502", "503")
  private val methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val paths = Vector("/", "/api/users", "/api/orders/list", "/static/app.js",
    "/health", "/search", "/api/v2/items/detail", "/login")

  /** IP for Zipf rank `k`: an odd multiplier is a bijection mod 2^24, so
    * ranks map to distinct addresses whose layout changes with the seed. */
  private def ipOf(k: Int): String = {
    val v = ((k.toLong * 2654435761L + seed * 40503L) & 0xffffffL).toInt
    s"${11 + Math.floorMod(seed, 200L)}.${(v >> 16) & 255}.${(v >> 8) & 255}.${v & 255}"
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Writes `files` gzip files into `dir`; returns what was planted and
    * the rows the pre-seeded geo cache holds. */
  def write(dir: Path): (Planted, Seq[GeoRecord]) = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(ipSpace, 1.1)
    val startUs = (Instant.parse("2025-01-06T00:00:00Z").getEpochSecond +
      Math.floorMod(seed * 7919L, 300L) * 86400L) * 1000000L
    val spanUs = 3 * 86400L * 1000000L
    val geo = scala.collection.mutable.HashMap.empty[String, GeoRecord]
    def geoOf(ip: String): GeoRecord =
      geo.getOrElseUpdate(ip, resolver.resolve(Seq(ip)).head)
    var malformed, bots, errors, cleaned = 0L
    val hours = scala.collection.mutable.HashSet.empty[(Long, String, String)]
    val origins = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val perFile = lines / files
    (0 until files).foreach { f =>
      val out = dir.resolve(f"part-$f%03d.log.gz")
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(out.toFile)), "UTF-8"))
      val end = if (f == files - 1) lines else (f + 1) * perFile
      try (f * perFile until end).foreach { i =>
        val ip = ipOf(sample(cdf, rnd.nextDouble()))
        val us = startUs + rnd.nextLong(spanUs)
        val isBot = rnd.nextDouble() < 0.10
        val isErr = rnd.nextDouble() < 0.10
        val kind = rnd.nextDouble()
        val ua = if (isBot) botAgents(rnd.nextInt(botAgents.size))
          else browsers(rnd.nextInt(browsers.size))
        val status = if (isErr) errStatus(rnd.nextInt(errStatus.size))
          else okStatus(rnd.nextInt(okStatus.size))
        val method = methods(rnd.nextInt(methods.size))
        val path = paths(rnd.nextInt(paths.size))
        val port = 1024 + rnd.nextInt(60000)
        val sec = us / 1000000L
        val ts = stamp.format(Instant.ofEpochSecond(sec, (us % 1000000L) * 1000L))
        val full = line(i, ts, ip, port, status, method, path, ua, rnd)
        val text =
          if (kind < 0.005) full.split(' ').take(12).mkString(" ")
          else if (kind < 0.010) full.replace(ts, "not-a-timestamp")
          else full
        if (kind < 0.010) malformed += 1
        else {
          if (isBot) bots += 1
          if (isErr) errors += 1
          val g = geoOf(ip)
          if (g.status == "success") {
            cleaned += 1
            val local = Instant.ofEpochSecond(sec).atZone(zone)
            hours += ((local.toLocalDateTime.withMinute(0).withSecond(0)
              .toEpochSecond(java.time.ZoneOffset.UTC), g.country.get, g.city.get))
            if (isBot) origins((g.country.get, g.isp.get)) =
              origins.getOrElse((g.country.get, g.isp.get), 0L) + 1
          }
        }
        w.write(text); w.write("\n")
      } finally w.close()
    }
    val ips = geo.keys.toSeq.sorted
    val (fresh, cached) = ips.partition { ip =>
      Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(ip, seed.toInt), 10) == 0
    }
    val bytes = Files.list(dir).toArray.map(p => Files.size(p.asInstanceOf[Path])).sum
    val planted = Planted(lines, malformed, bots, errors, ips.size, fresh.size,
      cleaned, hours.size, origins.toMap, bytes)
    (planted, cached.map(geo))
  }

  /** One 29-field ALB line; processing times are whole milliseconds so
    * window averages are exact. */
  private def line(i: Int, ts: String, ip: String, port: Int, status: String,
      method: String, path: String, ua: String, rnd: SplittableRandom): String = {
    val rpt = f"0.00${rnd.nextInt(10)}"
    val tpt = f"0.${100 + rnd.nextInt(800)}"
    val sent = 100 + rnd.nextInt(20000)
    val recv = 50 + rnd.nextInt(2000)
    val q = "\""
    s"h2 $ts app/bench/1 $ip:$port 172.31.0.1:80 $rpt $tpt 0.001 $status $status " +
      s"$recv $sent $q$method https://shop.example.com:443$path?page=${i % 9} HTTP/2.0$q " +
      s"$q$ua$q TLS_AES_128_GCM_SHA256 TLSv1.3 arn:aws:elb:x:1:tg/bench/1 " +
      s"${q}Root=1-${java.lang.Long.toHexString(seed)}-$i$q ${q}shop.example.com$q " +
      s"${q}session-reused$q 1 $ts ${q}forward$q $q-$q $q-$q ${q}172.31.0.1:80$q " +
      s"$q$status$q $q-$q $q-$q"
  }
}
