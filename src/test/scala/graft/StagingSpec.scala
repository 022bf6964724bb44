package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.scalatest.funsuite.AnyFunSuite

class StagingSpec extends AnyFunSuite {

  private val keys = new AtomicInteger()
  private def freshKey(what: String): String =
    s"staging-spec|$what|${keys.incrementAndGet()}"

  private def task[T](f: => T): Callable[T] = new Callable[T] { def call(): T = f }

  /** Runs `f` on `n` threads released together; returns their results. */
  private def together[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val futures = (1 to n).map(_ => pool.submit(task { go.await(); f }))
      go.countDown()
      futures.map(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("8 threads on one key run the build exactly once and all get its value") {
    val key = freshKey("once")
    val builds = new AtomicInteger()
    val got = together(8)(Staging.once(key) {
      builds.incrementAndGet(); Thread.sleep(100); s"built-$key"
    })
    assert(builds.get == 1)
    assert(got == Seq.fill(8)(s"built-$key"))
  }

  test("a throwing build is re-run by the next call") {
    val key = freshKey("retry")
    val builds = new AtomicInteger()
    intercept[IllegalStateException](Staging.once[String](key) {
      builds.incrementAndGet(); throw new IllegalStateException("first build fails")
    })
    assert(Staging.once(key) { builds.incrementAndGet(); "second" } == "second")
    assert(builds.get == 2)
    assert(Staging.once(key)("third") == "second")
  }

  test("a caller never returns before the build it waited on has finished") {
    val key = freshKey("wait")
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val first = pool.submit(task(Staging.once(key) {
        started.countDown(); Thread.sleep(300); finished.set(true); "first"
      }))
      assert(started.await(30, TimeUnit.SECONDS))
      val got = Staging.once(key)("second")
      assert(finished.get, "returned while the build was still running")
      assert(got == "first")
      assert(first.get(30, TimeUnit.SECONDS) == "first")
    } finally pool.shutdownNow()
  }

  test("a nested once on another key completes") {
    val (outer, inner) = (freshKey("outer"), freshKey("inner"))
    assert(Staging.once(outer)(Staging.once(inner)(1) + 1) == 2)
    assert(Staging.once(inner)(99) == 1)
  }

  test("scratch returns distinct dirs under one root") {
    val (a, b) = (Staging.scratch("spec"), Staging.scratch("spec"))
    assert(a != b)
    assert(Files.isDirectory(a) && Files.isDirectory(b))
    assert(a.getParent == b.getParent)
    assert(a.getParent.getFileName.toString.startsWith("graft-scratch"))
  }

  test("pathFor keeps the fixture-path spelling the oracle SQL embeds") {
    assert(Staging.pathFor("graft-ivf-index", "/root/testdata/sf0.01") ==
      Paths.get(sys.props("java.io.tmpdir"),
        "graft-ivf-index-_root_testdata_sf0.01").toString)
  }
}
