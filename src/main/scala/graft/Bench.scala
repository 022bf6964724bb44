package graft

/** Benchmark main: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query seconds.
  *
  * Honesty details: results are written to the `noop` sink — a bare
  * `count()` lets Catalyst prune every projection, so narrow transform
  * queries would measure ~nothing. A warm-up query runs first so JVM/
  * codegen startup isn't billed to the first timed query. Each query runs
  * `SPARK_GRAFT_BENCH_ITERS` (default 3) times and reports the per-query
  * MIN (plus median) — a single contended run on a noisy driver machine
  * can otherwise distort the record by 10-40× (observed round 1; rounds
  * 3-5 swung the headline ~40% with near-zero code change at 2 iters,
  * hence a raise to 5 — walked back to 3 in round 14 after the driver's
  * 393-query × 5-iter run outgrew its window and timed out (BENCH_r13
  * rc=124): min-of-3 plus the per-iteration vectors keeps outliers
  * attributable while fitting the run back inside ~25 min). The total is
  * the sum of minima; a query whose iterations ALL fail is marked failed
  * rather than letting it shrink the total into a fake speedup, and a
  * SINGLE failed iteration is retried once (recorded in `transients`) so
  * one late-session transient — r13's q282 INTERNAL_ERROR on the noop
  * sink, ~280 queries in — can't poison an hour-long official run. The
  * file artifact additionally records the full per-iteration vectors
  * (`queries_iters`) so a contended-run outlier is attributable after
  * the fact, not a mystery.
  *
  * SURVIVABILITY (round 15): the artifact file is rewritten ATOMICALLY
  * after EVERY query, carrying everything measured so far plus
  * `"partial":true` and a progress counter — two consecutive rounds of
  * driver runs died at rc=124 with the JSON built only at the end
  * (BENCH_r13/_r14 `parsed: null`), so a killed run must still leave a
  * parsed prefix. The final rewrite flips `partial` to false; the stdout
  * line is printed only on a completed run (a partial line on stdout
  * could be mistaken for a full-suite total).
  *
  * DRIFT FORENSICS (round 15): every round has spent a session
  * adjudicating host-load drift by hand (q88 r12, q55 r13, q161 r14).
  * The artifact now carries the evidence in-band: `/proc/loadavg` is
  * sampled at suite start, every 25 queries, and at the end (`load`),
  * and the q000 scheduler control is re-run once at ~mid-suite and once
  * at the end (`control_samples`) so "the host got slower under us" is
  * data in the file, not next session's archaeology.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    // shuffle partitions default to the thread count (the committed-
    // bench shape), but sf10-class scale probes need them decoupled:
    // 60M-row shuffles in 4 partitions spill and GC-thrash regardless
    // of how good the plan is (round-13 sweep finding)
    val spark = GraftSession(shufflePartitions =
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").map(_.toInt))
    // WindowExec's "No Partition Defined" WARN fires 10+/sec across the
    // suite's audited-bounded unpartitioned windows (distinct-value /
    // bin-sized frames per scaladoc) and flooded the one log the driver
    // keeps in r13, helping push the run past its window — silence that
    // single logger; everything else stays at WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // the inter-query cleanup sweep unpersists locally-checkpointed RDDs
    // (DBSCAN pairs, NN-descent state — dead by then, dropping them is
    // the point), and each such unpersist WARNs "RDD was locally
    // checkpointed … cannot be recomputed" from the RDD's CONCRETE class
    // logger (MapPartitionsRDD et al.). That flood owned the r14 driver
    // tail that should have shown bench progress — silence the rdd
    // package for the bench JVM only; correctness runs keep it at WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd",
      org.apache.logging.log4j.Level.ERROR)
    // fail fast (named error, schema printout) on a driver-side testdata
    // regeneration that breaks a loader assumption — see Tables scaladoc
    graft.queries.Tables.checkContract(spark, sfDir)

    /** Session-accumulation hygiene, run OUTSIDE the timed region.
      * Root cause of the round-11 suite drift (+31% on unchanged
      * queries, control flat): `localCheckpoint()` is EAGER and pins
      * MEMORY_AND_DISK blocks that nothing ever unpersists — 70+ call
      * sites across the iterative ops, so a 301-query × 5-iteration
      * session pins thousands of stale blocks into an 8 GiB heap.
      * Storage steals the unified-memory region from execution (more
      * spilling) and old-gen fills (the 30-80 s GC-pause iterations in
      * bench.json's round-11 vectors). Queries late in the string sort
      * (q18_ sorts after q18x, q3x_ after q30x) paid the most — exactly
      * the regressed set. Dropping finished queries' blocks between
      * iterations restores every iteration to the same starting state;
      * the per-query System.gc() lets ContextCleaner reclaim shuffle
      * files + broadcasts (otherwise freed only on a natural old-gen GC,
      * which an 8 GiB heap may not run for many minutes). */
    def cleanup(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    /** One timed run. A failed attempt is retried ONCE after a cleanup +
      * GC (r13 precedent: q282's noop-sink write threw INTERNAL_ERROR
      * ~280 queries into the driver's 393×5 session — a late-session
      * transient on a query that is green in correctness and 0.24 s
      * committed — and poisoned the only official perf artifact of the
      * round). The retry is still RECORDED (`transients` in the JSON),
      * so a flaky query can't hide; only a double failure returns the
      * -1 sentinel that marks the query failed. */
    val transients = scala.collection.mutable.ArrayBuffer.empty[String]
    def once(name: String): Double = {
      def attempt(): Either[Throwable, Double] = {
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => Left(e) }
      }
      attempt() match {
        case Right(t) => t
        case Left(e1) =>
          System.err.println(
            s"[bench] $name failed (retrying once): ${e1.getMessage}")
          cleanup(); System.gc()
          attempt() match {
            case Right(t) => transients += name; t
            case Left(e2) =>
              System.err.println(s"[bench] $name failed twice: ${e2.getMessage}")
              -1.0 // sentinel: a failed query must not look like a fast one
          }
      }
    }

    /** All `iters` timings; a query whose retry also fails is poisoned.
      * The System.gc() that lets ContextCleaner reclaim shuffle files +
      * broadcasts runs every 10 QUERIES, not every query: 393 full GCs
      * cost minutes of the driver's window (r13 rc=124) and the per-
      * iteration cleanup() already drops the heavyweight pinned blocks. */
    var queriesSinceGc = 0
    def exec(name: String): Seq[Double] = {
      val ts = (1 to iters).map { _ =>
        val t = once(name); cleanup(); t
      }
      queriesSinceGc += 1
      if (queriesSinceGc >= 10) { System.gc(); queriesSinceGc = 0 }
      if (ts.exists(_ < 0)) Seq.fill(iters)(-1.0) else ts
    }
    def minOf(ts: Seq[Double]): Double = ts.min
    def medianOf(ts: Seq[Double]): Double = {
      val sorted = ts.sorted
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
    }

    // local-iteration filter (`SparkEntry.filterTerms` syntax); unset,
    // every query runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val names = SparkEntry.selectQueries(only)

    // ---- incremental artifact plumbing (round 15) ----
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    // host-load samples: suite start, every 25 queries, suite end —
    // /proc/loadavg's three averages plus the running queue snapshot
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[String]
    def sampleLoad(at: String): Unit = {
      val raw = try {
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg"))).trim
      } catch { case _: Throwable => "unavailable" }
      loadSamples += s"""{"at":"$at","n_done":${results.size},"loadavg":"$raw"}"""
    }
    // control re-runs: the q000 scheduler control measured again at
    // mid-suite and end, so drift adjudication reads straight off the file
    val controlSamples = scala.collection.mutable.ArrayBuffer.empty[String]
    def sampleControl(at: String): Unit =
      if (SparkEntry.queries.contains("q000_scheduler_control")) {
        val t = once("q000_scheduler_control"); cleanup()
        controlSamples += s"""{"at":"$at","n_done":${results.size},"sec":$t}"""
      }
    def arr(b: Seq[String]): String = b.mkString("[", ",", "]")

    /** Serialize everything measured so far and atomically replace the
      * artifact file. Called after EVERY query: a run killed at rc=124
      * mid-suite leaves a fully-parsed JSON prefix (`"partial":true`,
      * `n_done`/`n_selected` progress) instead of nothing. Atomic move
      * means the driver can never read a torn half-write. */
    def writeArtifact(partial: Boolean, nSelected: Int): String = {
      def obj(f: Seq[Double] => Double) = results
        .map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      val failed = results.count(_._2.head < 0)
      // a failed query must not shrink the aggregate into a fake speedup:
      // the total only counts successes, and "failed" flags the run
      val ok = results.map(_._2).filter(_.head >= 0)
      val total = ok.map(minOf).sum
      val totalMedian = ok.map(medianOf).sum
      val transientsJson = transients.distinct.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // the compact line (no per-iteration vectors) doubles as the final
      // stdout line; the FILE artifact carries the full vectors so a
      // contended-run outlier stays attributable after the fact
      val line = s"""{"metric":"total","value":$total,"unit":"sec","total_median":$totalMedian,"failed":$failed,"partial":$partial,"n_done":${results.size},"n_selected":$nSelected,"transients":$transientsJson,"iters":$iters,"load":${arr(loadSamples.toSeq)},"control_samples":${arr(controlSamples.toSeq)},"queries":${obj(minOf)},"queries_median":${obj(medianOf)},"sf":"$sfDir"}"""
      val itersObj = results
        .map { case (k, v) => "\"" + k + "\":[" + v.mkString(",") + "]" }
        .mkString("{", ",", "}")
      val fileLine = line.stripSuffix("}") + s""","queries_iters":$itersObj}"""
      val p = java.nio.file.Paths.get(outPath)
      val tmp = java.nio.file.Paths.get(outPath + ".tmp")
      java.nio.file.Files.writeString(tmp, fileLine + "\n")
      try java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      line
    }

    // warm-up: JVM + codegen + parquet footer caches for the TPC-H-ish and
    // events read paths, plus the one-time synthetic ELB corpus generation
    // (driver-side, would otherwise be billed to q18's first run).
    // q55's warm-up covers the one-time zstd landing-zone staging write.
    // A filtered local run skips warm-ups outside the filter (the ELB
    // corpus generation alone is minutes at sf1) and instead warms the
    // first match of each filter term that no warm-up covers.
    // q359's warm-up covers the one-time synthetic WARC corpus
    // generation + oracle staging write (round 13); q394's the text-
    // archive corpus + staging (round 14); q363's the one-time spans
    // staging write shared with q364 (round 15)
    val warmups = Seq("q03_revenue_by_nation", "q01_hourly_agg",
      "q18_elb_pipeline", "q55_elb_staged", "q359_warc_wet",
      "q394_textarchive_scan", "q363_substring_dedup")
    warmups.filter(names.contains).foreach(once)
    for (f <- only.toSeq.flatMap(SparkEntry.filterTerms)
         if !warmups.exists(SparkEntry.matches(_, f)))
      names.find(SparkEntry.matches(_, f)).foreach(once)

    sampleLoad("start")
    names.zipWithIndex.foreach { case (n, i) =>
      results += n -> exec(n)
      if (results.size % 25 == 0) sampleLoad("interval")
      if (i == names.size / 2) sampleControl("mid")
      writeArtifact(partial = true, nSelected = names.size)
      // progress to stderr (never stdout — the driver parses stdout for
      // the one final JSON line and a partial line could masquerade as
      // a full-suite total)
      System.err.println(s"[bench] ${i + 1}/${names.size} $n done")
    }
    sampleControl("end")
    sampleLoad("end")
    val line = writeArtifact(partial = false, nSelected = names.size)
    // stop Spark BEFORE printing: its shutdown INFO/WARN burst interleaves
    // with stdout in the driver's combined capture and has twice clipped
    // the one line the harness parses
    spark.stop()
    println(line)
    System.out.flush()
  }
}
