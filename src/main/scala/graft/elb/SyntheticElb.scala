package graft.elb

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** Deterministic synthetic ALB access-log generator (main scope — used by
  * the rows-only ELB pipeline query and by tests/benchmarks as a `.gz`
  * source). Line shape follows the reference's 29-field format
  * (reference: advanced_elb_logs_etl.py:43-49; golden line in
  * tests/test_advanced_elb_logs_etl.py:35-43).
  */
object SyntheticElb {

  private val methods = Vector("GET", "GET", "GET", "POST", "PUT")
  private val paths = Vector("/", "/api/users", "/api/orders/list",
    "/static/app.js", "/health", "/search")
  private val uas = Vector(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/137.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Firefox/115.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "python-urllib/3.11",
    "-")
  private val statuses = Vector("200", "200", "200", "301", "404", "500", "-")

  /** One deterministic log line for sequence number `i`. */
  def line(i: Int): String = {
    def pick[A](v: Vector[A], salt: Int): A = v(math.abs((i * 2654435761L + salt).toInt) % v.size)
    val ip = s"10.${i % 7}.${(i / 7) % 5}.${i % 50}"
    // bursts with occasional >30-min jumps for sessionization coverage;
    // burst index wraps at ~39 days so the year/month/day partition tree
    // stays bounded at any corpus size (an unwrapped timeline at 5M lines
    // spans decades and explodes the partitioned sink into ~100k dirs)
    val baseMs = 1748304000000L + ((i / 10) % 1600) * 35L * 60 * 1000 + (i % 10) * 45000L
    val ts = java.time.Instant.ofEpochMilli(baseMs).toString.replace("Z", ".000000Z")
    val status = pick(statuses, 1)
    val times = if (status == "-") ("-", "-", "-")
      else (s"0.00${i % 10}", s"0.${100 + i % 300}", "0.001")
    val ua = pick(uas, 2)
    val path = pick(paths, 3)
    s"h2 $ts app/synth/1 $ip:${10000 + i % 5000} 172.31.0.1:80 " +
      s"${times._1} ${times._2} ${times._3} $status $status ${50 + i % 500} ${100 + i % 2000} " +
      "\"" + s"${pick(methods, 4)} https://app.example.com:443$path?page=${i % 9} HTTP/2.0" + "\" " +
      "\"" + ua + "\" TLS_AES_128_GCM_SHA256 TLSv1.3 arn:aws:elb:x:1:tg/synth/1 " +
      "\"" + s"Root=1-$i" + "\" \"app.example.com\" \"session-reused\" 1 " +
      s"$ts " + "\"forward\" \"-\" \"-\" \"172.31.0.1:80\" " +
      "\"" + status + "\" \"-\" \"-\""
  }

  /** Write `n` lines across `files` gzip files under `dir`. */
  def writeDataset(dir: Path, n: Int, files: Int = 16): Unit = {
    Files.createDirectories(dir)
    val perFile = math.max(1, n / files)
    (0 until files).foreach { f =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(dir.resolve(f"part-$f%03d.log.gz").toFile)), "UTF-8"))
      // last file takes the remainder so exactly n lines are written
      val end = if (f == files - 1) n else math.min(n, (f + 1) * perFile)
      try (f * perFile until end)
        .foreach { i => w.write(line(i)); w.write("\n") }
      finally w.close()
    }
  }

  /** 16 files: gzip is non-splittable, so file count IS the parse
    * parallelism. The dir name encodes the generator parameters, so
    * changing them can never pick up a stale corpus from a previous
    * layout.
    */
  private val files = 16

  /** Deterministic corpus directory for `n` lines — shared with the DuckDB
    * oracle, which reads staging tables written under `<dir>/_staged/`.
    */
  def dirFor(n: Int): Path = graft.Staging.path(s"graft-synth-elb-$n-f$files")

  /** The corpus directory for `n` lines, written once per JVM
    * ([[graft.Staging.once]]). Readers take the directory itself: the
    * text source, the text stream and the `elb` source all list its
    * non-`_` files, so `_staged/` is never read as corpus, and a plain
    * directory (unlike a glob) passes Spark's metadata-dir probe quietly.
    */
  def dataset(n: Int): String = {
    val dir = dirFor(n)
    graft.Staging.once(dir.toString)(writeDataset(dir, n, files))
    dir.toString
  }
}
