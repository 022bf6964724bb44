package graft.sources

import java.io.{ByteArrayInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The WARC/WET container source under test: golden record walk over all
  * three container encodings (plain, whole-file gzip, per-record gzip
  * members), pruning/pushdown behavior, and — the Multimodal quarantine
  * discipline — one ok=false row with a named error for every way a
  * container can lie (truncated payload, bad/missing Content-Length,
  * garbage between records, malformed headers, EOF mid-headers), with
  * resync proven by the healthy records AFTER the corruption still
  * arriving.
  */
class WarcSourceSpec extends SparkSpec {

  private def rec(warcType: String, id: String, uri: String, date: String,
      ctype: String, payload: String): String = {
    val pb = payload.getBytes(StandardCharsets.UTF_8)
    s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Record-ID: $id\r\n" +
      s"WARC-Date: $date\r\n" +
      (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Type: $ctype\r\nContent-Length: ${pb.length}\r\n\r\n" +
      payload + "\r\n\r\n"
  }

  private def goodPair: String =
    rec("conversion", "<urn:uuid:1>", "https://a.example.org/x", "2025-06-01T00:00:00Z",
      "text/plain", "hello corpus") +
    rec("response", "<urn:uuid:2>", "https://b.example.org/y", "2025-06-01T00:00:01.250Z",
      "application/http; msgtype=response",
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><title>t</title></html>")

  private def writeFile(name: String, content: Array[Byte]): String = {
    val dir = Files.createTempDirectory("warc-spec")
    val f = dir.resolve(name)
    Files.write(f, content)
    f.toString
  }

  private def readAll(path: String) =
    spark.read.format("warc").load(path)
      .orderBy("record_id").collect()

  test("golden walk: plain, whole-file gzip, per-member gzip are identical") {
    val bytes = goodPair.getBytes(StandardCharsets.UTF_8)
    val plain = writeFile("a.warc", bytes)

    val gzDir = Files.createTempDirectory("warc-spec-gz")
    val whole = gzDir.resolve("b.warc.gz")
    val gz = new GZIPOutputStream(new FileOutputStream(whole.toFile))
    gz.write(bytes); gz.close()

    val member = gzDir.resolve("c.warc.gz")
    val fos = new FileOutputStream(member.toFile)
    Seq(rec("conversion", "<urn:uuid:1>", "https://a.example.org/x",
        "2025-06-01T00:00:00Z", "text/plain", "hello corpus"),
      rec("response", "<urn:uuid:2>", "https://b.example.org/y",
        "2025-06-01T00:00:01.250Z", "application/http; msgtype=response",
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><title>t</title></html>"))
      .foreach { r =>
        val g = new GZIPOutputStream(fos)
        g.write(r.getBytes(StandardCharsets.UTF_8)); g.finish()
      }
    fos.close()

    val all = Seq(plain, whole.toString, member.toString).map(readAll)
    all.foreach { rows =>
      assert(rows.length == 2)
      val r0 = rows.head
      assert(r0.getAs[String]("warc_type") == "conversion")
      assert(r0.getAs[String]("target_uri") == "https://a.example.org/x")
      assert(r0.getAs[Boolean]("ok"))
      assert(r0.getAs[Array[Byte]]("payload").sameElements(
        "hello corpus".getBytes(StandardCharsets.UTF_8)))
      assert(r0.getAs[java.sql.Timestamp]("warc_date").getTime == 1748736000000L)
      val r1 = rows(1)
      assert(r1.getAs[String]("warc_type") == "response")
      assert(r1.getAs[java.sql.Timestamp]("warc_date").getTime == 1748736001250L)
      assert(r1.getAs[Long]("content_length") ==
        r1.getAs[Array[Byte]]("payload").length.toLong)
    }
    // encodings agree byte-for-byte (minus the per-file path column;
    // payload bytes decoded — Array equality is referential)
    val norm = all.map(_.toSeq.map(_.toSeq.dropRight(1).map {
      case b: Array[Byte] => new String(b, StandardCharsets.UTF_8)
      case x => x
    }))
    assert(norm(0) == norm(1))
    assert(norm(0) == norm(2))
  }

  test("truncated payload quarantines with parsed headers, preserves prior records") {
    val full = goodPair
    // cut the SECOND record's payload short by 20 bytes
    val cut = full.substring(0, full.length - 24)
    val path = writeFile("t.warc", cut.getBytes(StandardCharsets.UTF_8))
    val rows = readAll(path)
    assert(rows.length == 2)
    assert(rows.head.getAs[Boolean]("ok"))
    val bad = rows(1)
    assert(!bad.getAs[Boolean]("ok"))
    assert(bad.getAs[String]("error").startsWith("truncated payload"))
    assert(bad.getAs[String]("warc_type") == "response") // headers survived
    assert(bad.isNullAt(bad.fieldIndex("payload")))
  }

  test("invalid and missing Content-Length quarantine, walk resyncs to next record") {
    val bad1 = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:uuid:bad1>\r\n" +
      "Content-Type: text/plain\r\nContent-Length: NaN\r\n\r\nxxx\r\n\r\n"
    val bad2 = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:uuid:bad2>\r\n" +
      "Content-Type: text/plain\r\n\r\nyyy\r\n\r\n"
    val path = writeFile("cl.warc",
      (bad1 + bad2 + goodPair).getBytes(StandardCharsets.UTF_8))
    val rows = spark.read.format("warc").load(path).collect()
    assert(rows.length == 4)
    val errs = rows.filter(!_.getAs[Boolean]("ok"))
    assert(errs.length == 2)
    assert(errs.exists(_.getAs[String]("error").startsWith("invalid Content-Length")))
    assert(errs.exists(_.getAs[String]("error") == "missing Content-Length"))
    // resync reached both healthy records
    assert(rows.count(_.getAs[Boolean]("ok")) == 2)
  }

  test("garbage between records and malformed headers quarantine once, then resync") {
    val garbage = "this is not a warc record\nnor this\n"
    val malformed = "WARC/1.0\r\nWARC-Type conversion no colon here\r\n" +
      "Content-Length: 3\r\n\r\nzzz\r\n\r\n"
    val path = writeFile("g.warc",
      (garbage + goodPair + malformed + rec("metadata", "<urn:uuid:9>",
        "https://c.example.org/z", "2025-06-01T00:00:02Z",
        "application/warc-fields", "k: v\r\n"))
        .getBytes(StandardCharsets.UTF_8))
    val rows = spark.read.format("warc").load(path).collect()
    val errs = rows.filter(!_.getAs[Boolean]("ok")).map(_.getAs[String]("error"))
    assert(errs.length == 2, errs.mkString("; "))
    assert(errs.exists(_.startsWith("expected WARC version line")))
    assert(errs.exists(_.startsWith("malformed header line")))
    assert(rows.count(_.getAs[Boolean]("ok")) == 3)
  }

  test("maxPayload cap quarantines oversized records and keeps walking") {
    val big = rec("conversion", "<urn:uuid:big>", "https://d.example.org/b",
      "2025-06-01T00:00:03Z", "text/plain", "x" * 1000)
    val path = writeFile("cap.warc",
      (big + goodPair).getBytes(StandardCharsets.UTF_8))
    val rows = spark.read.format("warc").option("maxPayload", "100")
      .load(path).collect()
    assert(rows.length == 3)
    val bad = rows.filter(!_.getAs[Boolean]("ok"))
    assert(bad.length == 1)
    assert(bad.head.getAs[String]("error").contains("exceeds maxPayload"))
    assert(bad.head.getAs[Long]("content_length") == 1000L)
    assert(rows.count(_.getAs[Boolean]("ok")) == 2)
  }

  test("maxPayload above the array limit is clamped: a >4 GiB declared length quarantines") {
    // 4294967306 truncates to 10 as an Int; unclamped, a 5 GiB cap let the
    // record through and the payload read looped on a zero-byte read
    val huge = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:uuid:huge>\r\n" +
      "Content-Length: 4294967306\r\n\r\n0123456789abcdef\r\n\r\n"
    val path = writeFile("huge.warc",
      (goodPair + huge).getBytes(StandardCharsets.UTF_8))
    val rows = spark.read.format("warc").option("maxpayload", "5368709120")
      .load(path).collect()
    assert(rows.count(_.getAs[Boolean]("ok")) == 2)
    val bad = rows.filter(!_.getAs[Boolean]("ok"))
    assert(bad.map(_.getAs[String]("error")).toSeq ==
      Seq("payload exceeds maxPayload cap: 4294967306"))
    assert(bad.head.getAs[String]("record_id") == "<urn:uuid:huge>")
  }

  test("type pushdown skips payloads; pruning drops payload from ReadSchema") {
    val n = 200
    val glob = SyntheticWarc.dataset(n)
    val scan = spark.read.format("warc").load(glob)
      .where(col("warc_type") === "conversion")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("warc_type"),
      s"pushdown missing in:\n$plan")
    // pruned scan: payload not in ReadSchema
    val pruned = spark.read.format("warc").load(glob)
      .select("warc_type", "content_length")
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(!prunedPlan.contains("payload"), s"payload not pruned:\n$prunedPlan")
    // counts by type match the generator law (n=200, i%10: 7,8,9 special
    // + 8 warcinfo, one per container file)
    val counts = spark.read.format("warc").load(glob)
      .groupBy("warc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("conversion") == 140)
    assert(counts("request") == 20 && counts("response") == 20 &&
      counts("metadata") == 20)
    assert(counts("warcinfo") == 8)
    assert(counts.values.sum == 208)
  }

  test("record iterator handles cuts inside headers as quarantine") {
    // clean cut between header lines → EOF inside headers
    val cut1 = "WARC/1.0\r\nWARC-Type: conversion\r\n"
    val it1 = new WarcRecordIterator(
      new ByteArrayInputStream(cut1.getBytes(StandardCharsets.UTF_8)),
      wantPayload = true, maxPayload = 1 << 20, _ => true)
    val r1 = it1.nextRecord()
    assert(r1 != null && !r1.ok && r1.error == "EOF inside record headers")
    assert(it1.nextRecord() == null)
    // cut MID header line → the torn line has no colon → malformed header
    val cut2 = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Rec"
    val it2 = new WarcRecordIterator(
      new ByteArrayInputStream(cut2.getBytes(StandardCharsets.UTF_8)),
      wantPayload = true, maxPayload = 1 << 20, _ => true)
    val r2 = it2.nextRecord()
    assert(r2 != null && !r2.ok && r2.error.startsWith("malformed header line"))
    assert(it2.nextRecord() == null)
  }
}
