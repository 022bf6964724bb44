package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The single owner of the catalog's on-disk fixtures: synthetic corpora,
  * oracle staging parquet, materialized indexes and format round-trips.
  *
  *  - [[once]] is the per-JVM memo every one-time build goes through.
  *  - [[path]] / [[pathFor]] name the deterministic fixture paths the
  *    DuckDB oracle SQL embeds.
  *  - [[scratch]] hands out throwaway dirs that the JVM deletes on exit.
  *
  * Cross-JVM reuse of a shared fixture stays the caller's business (a
  * `_SUCCESS`/`_COMPLETE` check inside the build).
  */
object Staging {

  private val built = new ConcurrentHashMap[String, Any]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Runs `build` at most once per JVM for `key` and returns its value.
    * Concurrent callers for the same key wait for that one build and get
    * its result. A build that throws records nothing, so the next call
    * runs it again. A build may itself call `once` for another key.
    * Key by the artifact's path where there is one, else `"<what>|<dir>"`.
    */
  def once[T](key: String)(build: => T): T = {
    val hit = built.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = built.get(key)
      if (again != null) again.asInstanceOf[T]
      else { val v = build; built.put(key, v); v }
    }
  }

  /** `<java.io.tmpdir>/<name>`. */
  def path(name: String): Path = Paths.get(sys.props("java.io.tmpdir"), name)

  /** `<java.io.tmpdir>/<prefix>-<dir>` with every character of the
    * testdata dir outside `[a-zA-Z0-9.]` replaced by `_`.
    */
  def pathFor(prefix: String, dir: String): String =
    path(s"$prefix-${dir.replaceAll("[^a-zA-Z0-9.]", "_")}").toString

  private lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    root
  }

  /** A fresh empty dir under this JVM's scratch root; one shutdown hook
    * deletes the whole root.
    */
  def scratch(prefix: String): Path = Files.createTempDirectory(scratchRoot, prefix)

  /** Deletes `p` and everything under it, if it exists. */
  private[graft] def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      // Files.walk must be closed — each leaked stream holds a directory
      // handle until GC, and on some filesystems blocks the deletes
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
