package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}

import scala.collection.parallel.CollectionConverters._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** Deterministic synthetic WARC/WET corpus generator (main scope — the
  * [[WarcDataSource]] queries and specs read it as `.warc.gz`
  * containers, and the DuckDB oracle reads the SAME records from a
  * parquet staging table, so the container walk + header parse + payload
  * byte handling all sit under the rows+schema+hash gate — the
  * [[graft.elb.SyntheticElb]] discipline applied to web archives).
  *
  * Record mix per sequence number `i` (i mod 10): 7 → `request`,
  * 8 → `response` (HTTP response payload: status line, headers, HTML
  * body), 9 → `metadata`; everything else → `conversion` (WET extracted
  * text) — so one corpus exercises both the WARC shape (request/
  * response/metadata) and the WET shape (conversion) plus the
  * type-pushdown path. Record 0 of every FILE is additionally preceded
  * by a `warcinfo` record, as real containers are.
  *
  * Container encoding alternates by file: even files are whole-file
  * gzip streams, odd files compress EACH RECORD as its own gzip member
  * (the Common Crawl layout) — both must walk identically through the
  * multi-member `GZIPInputStream`.
  */
object SyntheticWarc {

  private val hostWords = Vector("news", "blog", "docs", "shop", "wiki",
    "forum", "data", "media")
  private val vocab = Vector("the", "quick", "model", "corpus", "learns",
    "from", "clean", "text", "data", "tokens", "scale", "quality",
    "filter", "web", "pages", "carry", "signal", "and", "noise", "alike")

  case class Rec(i: Long, warcType: String, recordId: String,
      targetUri: String, dateMs: Long, contentType: String,
      payloadText: String)

  /** Deterministic extracted-text body: 12–41 words from the lattice,
    * with every 7th record REPEATING record i-7's text (near-dup and
    * exact-dup coverage for the downstream dedup family).
    */
  private def text(i: Long): String = {
    val base = if (i % 7 == 3 && i >= 7) i - 7 else i
    val n = 12 + (base * 2654435761L % 30).toInt.abs
    (0 until n).map(k =>
      vocab(((base * 31 + k * 2654435761L) % vocab.size).toInt.abs)).mkString(" ") +
      (if (i % 7 == 3 && i >= 7) "" else s" doc$base")
  }

  /** Deterministic outlink target h (host index lattice). */
  private def linkHost(i: Long, salt: Long): String =
    s"${hostWords(((i * 3 + salt) % hostWords.size).toInt)}${(i + salt) % 13}.example.org"

  def record(i: Long): Rec = {
    val baseHost = s"${hostWords((i % hostWords.size).toInt)}${i % 13}.example.org"
    // URL-canonicalization surface: mixed-case hosts, explicit default
    // ports, tracking params, unsorted params — all deterministic
    val host = if (i % 5 == 0) baseHost.toUpperCase else baseHost
    val port = if (i % 7 == 0) ":443" else ""
    val query = (i % 4) match {
      case 0 => s"?id=$i"
      case 1 => s"?utm_source=feed&id=$i&a=1"
      case 2 => s"?b=2&a=1&fbclid=XYZ$i"
      case _ => ""
    }
    val uri = s"https://$host$port/page/${i % 101}$query"
    val dateMs = 1748736000000L + i * 1000L // 2025-06-01T00:00:00Z + i sec
    val id = f"<urn:uuid:${i}%08d-0000-4000-8000-000000000000>"
    (i % 10) match {
      case 7 => Rec(i, "request", id, uri, dateMs,
        "application/http; msgtype=request",
        s"GET /page/${i % 101}$query HTTP/1.1\r\nHost: $host\r\nUser-Agent: graft-crawler/1.0\r\n\r\n")
      case 8 =>
        val body = s"<html><head><title>Page ${i % 101}</title></head>" +
          s"<body><p>${text(i)}</p>" +
          s"""<a href="https://${linkHost(i, 1)}/page/${(i * 7) % 101}">next</a>""" +
          s"""<a href="https://${linkHost(i, 5)}/page/${(i * 11) % 101}">more</a>""" +
          "</body></html>"
        Rec(i, "response", id, uri, dateMs,
          "application/http; msgtype=response",
          s"HTTP/1.1 ${if (i % 40 == 8) 404 else 200} OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
            s"Content-Length: ${body.getBytes(StandardCharsets.UTF_8).length}\r\n\r\n$body")
      case 9 => Rec(i, "metadata", id, uri, dateMs,
        "application/warc-fields",
        s"fetchTimeMs: ${100 + i % 900}\r\ncharset-detected: UTF-8\r\n")
      case _ => Rec(i, "conversion", id, uri, dateMs,
        "text/plain", text(i))
    }
  }

  private def warcinfoBytes(fileName: String): Array[Byte] = {
    val body = s"software: graft-synth/1.0\r\nisPartOf: synth-crawl\r\nformat: WARC File Format 1.0\r\n"
    recordBytes("warcinfo", s"<urn:uuid:ffffffff-0000-4000-8000-$fileName>",
      null, 1748736000000L, "application/warc-fields", body)
  }

  private def recordBytes(warcType: String, id: String, uri: String,
      dateMs: Long, contentType: String, payload: String): Array[Byte] = {
    val pb = payload.getBytes(StandardCharsets.UTF_8)
    val date = java.time.Instant.ofEpochMilli(dateMs).toString
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    sb.append(s"WARC-Record-ID: $id\r\n")
    sb.append(s"WARC-Date: $date\r\n")
    if (uri != null) sb.append(s"WARC-Target-URI: $uri\r\n")
    sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${pb.length}\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(StandardCharsets.ISO_8859_1)
    val out = new Array[Byte](head.length + pb.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(pb, 0, out, head.length, pb.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  def bytesFor(r: Rec): Array[Byte] =
    recordBytes(r.warcType, r.recordId, r.targetUri, r.dateMs,
      r.contentType, r.payloadText)

  /** GZIPOutputStream whose native Deflater is RELEASED on finish
    * without closing the underlying stream — a fresh GZIPOutputStream
    * per record member otherwise leaks its native deflater until GC
    * (measured: 250 k members took minutes and ballooned native
    * memory; with explicit release it is seconds).
    */
  private final class MemberGz(out: OutputStream, size: Int = 512)
      extends GZIPOutputStream(out, size) {
    def finishAndRelease(): Unit = { finish(); `def`.end() }
  }

  /** Write `n` records across `files` containers (in parallel — the
    * containers are independent); returns the glob.
    */
  def writeDataset(dir: Path, n: Int, files: Int = 8): String = {
    Files.createDirectories(dir)
    val perFile = math.max(1, n / files)
    (0 until files).par.foreach { f =>
      val fileName = f"part-$f%03d.warc.gz"
      val fos = new BufferedOutputStream(
        new FileOutputStream(dir.resolve(fileName).toFile), 1 << 16)
      val end = if (f == files - 1) n else math.min(n, (f + 1) * perFile)
      try {
        if (f % 2 == 0) {
          // whole-file gzip stream
          val gz = new MemberGz(fos, 1 << 16)
          gz.write(warcinfoBytes(fileName))
          (f * perFile until end).foreach(i => gz.write(bytesFor(record(i))))
          gz.finishAndRelease()
        } else {
          // one gzip MEMBER per record (the Common Crawl layout)
          def member(b: Array[Byte]): Unit = {
            val gz = new MemberGz(fos)
            gz.write(b); gz.finishAndRelease()
          }
          member(warcinfoBytes(fileName))
          (f * perFile until end).foreach(i => member(bytesFor(record(i))))
        }
      } finally fos.close()
    }
    dir.resolve("*.warc.gz").toString
  }

  private val files = 8

  /** Deterministic corpus dir for `n` records; `_staged/` under it holds
    * the oracle's parquet truth (shared naming discipline with
    * [[graft.elb.SyntheticElb.dirFor]]).
    */
  /** Generator content version — BUMP whenever [[record]]'s output
    * changes, so cached corpora from an older generator can never be
    * read against freshly staged oracle records.
    */
  private val genVersion = 2

  def dirFor(n: Int): Path =
    graft.Staging.path(s"graft-synth-warc-v$genVersion-$n-f$files")

  /** The corpus glob for `n` records, written once per JVM. */
  def dataset(n: Int): String =
    graft.Staging.once(dirFor(n).toString)(writeDataset(dirFor(n), n, files))
}
