package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{CRC32, GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.collection.parallel.CollectionConverters._

/** Deterministic synthetic text-archive corpus (main scope — the
  * [[TextArchiveDataSource]] queries and specs read it as `.tar.gz` /
  * `.zip` containers, and the DuckDB oracle reads the SAME members from
  * a parquet staging table, so the member walk, header parse and
  * payload decode all sit under the rows+schema+hash gate — the
  * [[SyntheticWarc]] discipline applied to archive dumps).
  *
  * Member lattice per sequence number `i`: path
  * `part${i%7}/doc$i.{txt|md}` (every 5th member is markdown), text of
  * 10–39 vocab words (every 9th member REPEATS member i−9's text for
  * the dedup family; every 11th carries a non-ASCII word — the UTF-8
  * decode surface), mtime = epoch base + i whole seconds (zip extended
  * timestamps store UTC seconds, so whole-second mtimes round-trip
  * bit-exactly).
  *
  * Container encoding alternates by file: even files are `ustar` tar
  * streams inside whole-file gzip (`.tar.gz`), odd files are `.zip`
  * with STORED entries (sizes in the local headers, so a header-only
  * zip scan sees them without reading payloads) — both walks must
  * produce identical logical members.
  */
object SyntheticTextArchive {

  private val vocab = Vector("the", "archive", "holds", "plain", "text",
    "corpora", "books", "and", "docs", "for", "training", "data",
    "members", "carry", "clean", "lines", "of", "prose", "ready",
    "to", "filter")
  private val accent = "données"

  case class Member(i: Long, path: String, ext: String, mtimeMs: Long,
      text: String)

  def member(i: Long): Member = {
    val base = if (i % 9 == 4 && i >= 9) i - 9 else i
    val n = 10 + (base * 2654435761L % 30).toInt.abs
    val words = (0 until n).map(k =>
      vocab(((base * 37 + k * 2654435761L) % vocab.size).toInt.abs))
    val text0 = words.mkString(" ") +
      (if (i % 9 == 4 && i >= 9) "" else s" doc$base") +
      (if (i % 11 == 6) s" $accent" else "")
    val ext = if (i % 5 == 4) "md" else "txt"
    val text = if (ext == "md") s"# Doc $i\n\n$text0\n" else s"$text0\n"
    Member(i, s"part${i % 7}/doc$i.$ext", ext,
      1748736000000L + i * 1000L, text)
  }

  // ————————————————————————————————————————————— tar (ustar) encode

  private def octal(v: Long, len: Int): Array[Byte] = {
    // len-1 octal digits, zero padded, NUL terminated (the common form)
    val s = java.lang.Long.toOctalString(v)
    val padded = ("0" * (len - 1 - s.length)) + s
    (padded + "\u0000").getBytes(StandardCharsets.US_ASCII)
  }

  /** One 512-byte ustar header for a regular file. */
  def tarHeader(name: String, size: Long, mtimeSec: Long): Array[Byte] = {
    val b = new Array[Byte](512)
    val nameBytes = name.getBytes(StandardCharsets.UTF_8)
    require(nameBytes.length < 100, s"name too long for ustar: $name")
    System.arraycopy(nameBytes, 0, b, 0, nameBytes.length)
    System.arraycopy(octal(420, 8), 0, b, 100, 8) // mode 0644
    System.arraycopy(octal(0, 8), 0, b, 108, 8) // uid
    System.arraycopy(octal(0, 8), 0, b, 116, 8) // gid
    System.arraycopy(octal(size, 12), 0, b, 124, 12)
    System.arraycopy(octal(mtimeSec, 12), 0, b, 136, 12)
    java.util.Arrays.fill(b, 148, 156, ' '.toByte) // chksum spaces for the sum
    b(156) = '0' // regular file
    System.arraycopy("ustar\u000000".getBytes(StandardCharsets.US_ASCII), 0, b, 257, 8)
    var sum = 0L
    var i = 0
    while (i < 512) { sum += (b(i) & 0xff); i += 1 }
    val ck = java.lang.Long.toOctalString(sum)
    val ckPad = ("0" * (6 - ck.length)) + ck
    System.arraycopy((ckPad + "\u0000 ").getBytes(StandardCharsets.US_ASCII),
      0, b, 148, 8)
    b
  }

  /** Append one member (header + padded payload) to a tar stream. */
  def tarMember(out: OutputStream, name: String, mtimeSec: Long,
      payload: Array[Byte]): Unit = {
    out.write(tarHeader(name, payload.length.toLong, mtimeSec))
    out.write(payload)
    val pad = (512 - payload.length % 512) % 512
    if (pad > 0) out.write(new Array[Byte](pad))
  }

  /** The canonical two-zero-block tar trailer. */
  def tarTrailer(out: OutputStream): Unit = out.write(new Array[Byte](1024))

  // ————————————————————————————————————————————— zip encode (STORED)

  def zipMember(z: ZipOutputStream, name: String, mtimeMs: Long,
      payload: Array[Byte]): Unit = {
    val e = new ZipEntry(name)
    e.setMethod(ZipEntry.STORED)
    e.setSize(payload.length.toLong)
    e.setCompressedSize(payload.length.toLong)
    val crc = new CRC32(); crc.update(payload)
    e.setCrc(crc.getValue)
    e.setLastModifiedTime(java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    z.putNextEntry(e)
    z.write(payload)
    z.closeEntry()
  }

  // ————————————————————————————————————————————— corpus layout

  private val files = 16

  /** Write `n` members across `files` archives (even = .tar.gz,
    * odd = .zip); returns the glob matching both.
    */
  def writeDataset(dir: Path, n: Int): String = {
    // deterministic corpus + per-JVM memo: a second JVM (scale probes,
    // bench after tests) reuses the on-disk corpus instead of paying a
    // multi-minute regeneration at the 2M/20M decades. The marker is
    // written LAST, so a killed generation regenerates cleanly.
    val marker = dir.resolve("_COMPLETE")
    if (Files.exists(marker)) return dir.resolve("archive-*").toString
    Files.createDirectories(dir)
    val perFile = math.max(1, n / files)
    (0 until files).par.foreach { f =>
      val start = f * perFile
      val end = if (f == files - 1) n else math.min(n, (f + 1) * perFile)
      // n < files leaves later shards with an empty member range; an
      // entry-less ZipOutputStream throws on close ("ZIP file must have
      // at least one entry"), so small-n datasets simply write fewer
      // archives (an empty .tar.gz would be legal but pointless)
      if (start >= end) ()
      else if (f % 2 == 0) {
        val out = new BufferedOutputStream(new GZIPOutputStream(
          new FileOutputStream(dir.resolve(f"archive-$f%03d.tar.gz").toFile)), 1 << 16)
        try {
          (start until end).foreach { i =>
            val m = member(i.toLong)
            tarMember(out, m.path, m.mtimeMs / 1000,
              m.text.getBytes(StandardCharsets.UTF_8))
          }
          tarTrailer(out)
        } finally out.close()
      } else {
        val z = new ZipOutputStream(new BufferedOutputStream(
          new FileOutputStream(dir.resolve(f"archive-$f%03d.zip").toFile), 1 << 16))
        try (start until end).foreach { i =>
          val m = member(i.toLong)
          zipMember(z, m.path, m.mtimeMs, m.text.getBytes(StandardCharsets.UTF_8))
        } finally z.close()
      }
    }
    Files.write(marker, Array.emptyByteArray)
    dir.resolve("archive-*").toString
  }

  def dirFor(n: Int): Path = graft.Staging.path(s"graft-synth-txtar-$n-f$files")

  /** The corpus glob for `n` members, written once per JVM
    * ([[graft.Staging.once]]); `writeDataset`'s marker adds the
    * cross-JVM reuse.
    */
  def dataset(n: Int): String =
    graft.Staging.once(dirFor(n).toString)(writeDataset(dirFor(n), n))

  /** ONE zip holding all `n` members — the corpus shape the central-
    * directory-driven SPLITTABLE read exists for (a single multi-GB
    * dump zip that must still parallelize). Same member lattice as
    * [[dataset]], so the same staging table oracles both layouts.
    */
  def singleZip(n: Int): String = {
    val dir = graft.Staging.path(s"graft-synth-txtar1z-$n")
    val f = dir.resolve("corpus.zip")
    graft.Staging.once(f.toString) {
      val marker = dir.resolve("_COMPLETE")
      if (!Files.exists(marker)) { // same cross-JVM memo as writeDataset
        Files.createDirectories(dir)
        val z = new ZipOutputStream(new BufferedOutputStream(
          new FileOutputStream(f.toFile), 1 << 16))
        try (0 until n).foreach { i =>
          val m = member(i.toLong)
          zipMember(z, m.path, m.mtimeMs, m.text.getBytes(StandardCharsets.UTF_8))
        } finally z.close()
        Files.write(marker, Array.emptyByteArray)
      }
    }
    f.toString
  }
}
