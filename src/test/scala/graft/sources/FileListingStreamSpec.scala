package graft.sources

import java.io.{BufferedWriter, ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/** [[FileListingStream]] behind every streaming file source: a daily
  * `Trigger.AvailableNow` drain whose sink failed after the batch's
  * offsets were logged must, on restart, re-run that batch AND read the
  * files that landed since — the same rows as a drain that never failed.
  */
class FileListingStreamSpec extends SparkSpec {

  /** A source format, the string column that carries a row's marker, and
    * a writer of one file holding one row per marker.
    */
  private case class Format(name: String, marker: String, ext: String,
      write: (Path, Seq[String]) => Unit)

  private def elbFile(f: Path, markers: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(f)), StandardCharsets.UTF_8))
    markers.foreach { m => w.write(s"$m a b\n") } // first field is `type`
    w.close()
  }

  private def warcFile(f: Path, markers: Seq[String]): Unit =
    Files.writeString(f, markers.map { m =>
      s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: $m\r\n" +
        "Content-Length: 2\r\n\r\nok\r\n\r\n"
    }.mkString, StandardCharsets.ISO_8859_1)

  private def tarFile(f: Path, markers: Seq[String]): Unit = {
    val out = new ByteArrayOutputStream()
    markers.foreach { m =>
      SyntheticTextArchive.tarMember(out, m, 1748736000L,
        "text".getBytes(StandardCharsets.UTF_8))
    }
    SyntheticTextArchive.tarTrailer(out)
    Files.write(f, out.toByteArray)
  }

  private val formats = Seq(
    Format("elb", "type", ".log.gz", elbFile),
    Format("warc", "record_id", ".warc", warcFile),
    Format("textarchive", "member_path", ".tar", tarFile))

  formats.foreach { fmt =>
    test(s"${fmt.name}: AvailableNow restart after a failed sink re-runs the logged batch and drains new files") {
      val dir = Files.createTempDirectory(s"${fmt.name}-restart")
      val ckpt = Files.createTempDirectory(s"${fmt.name}-restart-ckpt").toString
      fmt.write(dir.resolve(s"a-001${fmt.ext}"), Seq("x1", "x2"))
      fmt.write(dir.resolve(s"a-002${fmt.ext}"), Seq("x3"))

      def drain(run: Int, sinkUp: Boolean): Seq[String] = {
        val got = new ConcurrentLinkedQueue[String]()
        val q = spark.readStream.format(fmt.name).load(dir.toString)
          .select(col(fmt.marker))
          .writeStream.queryName(s"${fmt.name}_restart_$run")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (!sinkUp) throw new IllegalStateException(s"sink down at batch $id")
            batch.collect().foreach(r => got.add(r.getString(0)))
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        got.asScala.toSeq.sorted
      }

      // batch 0 (files 1-2) is in the offset log but never committed
      intercept[StreamingQueryException](drain(1, sinkUp = false))
      fmt.write(dir.resolve(s"a-003${fmt.ext}"), Seq("x4", "x5"))
      assert(drain(2, sinkUp = true) == Seq("x1", "x2", "x3", "x4", "x5"))
      // the listing the restart pinned is fully committed
      assert(drain(3, sinkUp = true).isEmpty)
    }
  }

  test("offsets serialize as the bare file count, so existing checkpoints still read") {
    val stream = new FileListingStream(Seq("/nonexistent"), null, null)
    assert(FileCountOffset(7).json() == "7")
    assert(stream.deserializeOffset(" 7\n") == FileCountOffset(7))
  }
}
