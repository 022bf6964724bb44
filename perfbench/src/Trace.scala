package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the index of the enclosing
  * span in the same run, or -1. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run: spans nest through a stack,
  * stay in memory while the run measures, and are written out at the end. */
final class Tracer(runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, System.nanoTime(), 0L, open.headOption.getOrElse(-1), runId)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Seconds of the span named `name` (summed if it repeats). */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Writes one JSON object per span. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Files.writeString(path, spans.map { s =>
      f"""{"run":"${s.runId}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }.mkString("", "\n", "\n"))
  }
}
