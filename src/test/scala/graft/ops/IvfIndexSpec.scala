package graft.ops

import graft.SparkSpec
import graft.queries.Tables
import org.apache.spark.sql.functions._

/** The materialized IVF index must (a) return exactly what the inline IVF
  * search returns, and (b) reach the parquet source as PartitionFilters —
  * i.e. be an index, not a full scan per query.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf())
  private lazy val centroids = emb.filter(col("vec_id") < 16)
    .select(col("vec_id").as("cid"), Similarity.asDouble(col("embedding")).as("cvec"))
  private lazy val queryDf = emb.filter(col("vec_id") === 0)
    .select(Similarity.asDouble(col("embedding")).as("qvec"))
  private lazy val indexPath = {
    val p = java.nio.file.Files.createTempDirectory("ivf-index").resolve("idx").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 16), centroids, p)
    p
  }

  test("indexed IVF search equals inline IVF search") {
    val inline = Similarity.ivfTopK(emb.filter(col("vec_id") >= 16), centroids,
      queryDf, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Similarity.ivfTopKIndexed(indexPath, centroids,
      queryDf, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inline.nonEmpty && inline == indexed)
  }

  test("append rewrites only touched partitions and equals a fresh build") {
    val base = emb.filter(col("vec_id") >= 16 && col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val path = java.nio.file.Files.createTempDirectory("ivf-append")
      .resolve("idx").toString
    Similarity.buildIvfIndex(base, centroids, path)
    def partFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(path)
      root.listFiles().filter(_.getName.startsWith("centroid_id="))
        .map(d => d.getName -> d.listFiles().map(f =>
          s"${f.getName}:${f.lastModified}:${f.length}").toSet).toMap
    }
    val before = partFiles()
    Similarity.appendToIvfIndex(batch, centroids, path)
    val after = partFiles()
    val touched = Similarity.assignToCentroids(batch, centroids)
      .select("centroid_id").distinct()
      .collect().map(r => s"centroid_id=${r.getLong(0)}").toSet
    assert(touched.nonEmpty && touched.size < before.size,
      "fixture must touch some but not all partitions")
    before.keys.filterNot(touched).foreach { p =>
      assert(after(p) == before(p), s"untouched partition $p was rewritten")
    }
    touched.foreach { p =>
      assert(after.get(p).exists(_ != before.getOrElse(p, Set.empty[String])),
        s"touched partition $p was not rewritten")
    }
    // appended index content == fresh build over the union
    val freshPath = java.nio.file.Files.createTempDirectory("ivf-fresh")
      .resolve("idx").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 16), centroids, freshPath)
    // partition dirs read back with inferred int type — normalize to long
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(path) == rows(freshPath))
    // search over the appended index equals search over the fresh build
    def top(p: String) = Similarity.ivfTopKIndexed(p, centroids, queryDf,
      k = 10, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(path) == top(freshPath))
    // idempotence: re-appending the same batch changes nothing
    Similarity.appendToIvfIndex(batch, centroids, path)
    assert(rows(path) == rows(freshPath))
  }

  test("re-ingesting an id whose embedding moved centroids leaves one row") {
    val base = emb.filter(col("vec_id") >= 16 && col("vec_id") < 400)
    val path = java.nio.file.Files.createTempDirectory("ivf-drift")
      .resolve("idx").toString
    Similarity.buildIvfIndex(base, centroids, path)
    def rows() = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // pick an id and force it to a different centroid by re-ingesting it
    // with another existing vector's embedding
    val moveId = 20L
    val oldCid = rows().collectFirst { case (id, cid) if id == moveId => cid }.get
    val donor = rows().collectFirst { case (id, cid) if cid != oldCid => id }.get
    val newEmb = emb.filter(col("vec_id") === donor)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    import spark.implicits._
    val drifted = Seq((moveId, newEmb)).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(drifted, centroids, path)
    val after = rows()
    val mine = after.filter(_._1 == moveId)
    assert(mine.length == 1, s"expected exactly one row for id $moveId, got ${mine.toSeq}")
    assert(mine.head._2 != oldCid, "fixture must actually move the id across centroids")
    // everyone else untouched
    assert(after.filterNot(_._1 == moveId).toSet ==
      rowsOf(base).filterNot(_._1 == moveId).toSet)
    // a bucket emptied by the migration must not survive as stale files:
    // move EVERY row out of oldCid and assert its directory is gone
    val oldResidents = after.filter(_._2 == oldCid).map(_._1)
    assert(oldResidents.nonEmpty,
      "fixture must leave other residents in the vacated centroid — " +
      "otherwise the emptied-directory path below tests nothing")
    val evacuees = oldResidents.map(id => (id, newEmb)).toSeq
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(evacuees, centroids, path)
    val dir = new java.io.File(new java.io.File(path), s"centroid_id=$oldCid")
    assert(!dir.exists(), s"emptied partition $dir left stale files")
    val finalRows = rows()
    assert(!finalRows.exists(_._2 == oldCid))
    assert(finalRows.map(_._1).distinct.length == finalRows.length,
      "migration produced duplicate vec_id rows")
  }

  test("append's index reads are bounded by affected partitions") {
    val base = emb.filter(col("vec_id") >= 16 && col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
    assert(batch.count() > 0)
    val path = java.nio.file.Files.createTempDirectory("ivf-bounded")
      .resolve("idx").toString
    Similarity.buildIvfIndex(base, centroids, path)
    val touched = Similarity.assignToCentroids(batch, centroids)
      .select("centroid_id").distinct().collect().map(_.getLong(0)).toSet
    // replace an untouched partition's data files with garbage bytes: any
    // read outside the affected partitions — the pre-sidecar full-index
    // previous-homes scan, or schema inference opening an arbitrary
    // footer — would now throw
    val root = new java.io.File(path)
    val untouchedDir = root.listFiles()
      .filter(_.getName.startsWith("centroid_id="))
      .find(d => !touched.contains(d.getName.stripPrefix("centroid_id=").toLong))
      .getOrElse(fail("fixture must leave an untouched partition"))
    val corrupted = untouchedDir.listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(corrupted.nonEmpty)
    corrupted.foreach(f =>
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](64)(0x5A)))
    Similarity.appendToIvfIndex(batch, centroids, path)
    // appended rows landed (explicit-schema, partition-pruned read)
    val got = spark.read
      .schema(Similarity.assignToCentroids(batch, centroids).schema)
      .parquet(path)
      .where(col("centroid_id").isin(touched.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((400L until 420L).toSet.subsetOf(got))
  }

  test("a crash between compaction's renames is healed on the next append") {
    val base = emb.filter(col("vec_id") >= 16 && col("vec_id") < 400)
    val batch1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val batch2 = emb.filter(col("vec_id") >= 450)
    val path = java.nio.file.Files.createTempDirectory("ivf-crash")
      .resolve("idx").toString
    Similarity.buildIvfIndex(base, centroids, path)
    Similarity.appendToIvfIndex(batch1, centroids, path)
    // simulate the exact crash window: the live sidecar base has been
    // renamed aside but the fresh one never landed — delta log intact
    val live = new java.io.File(path + ".ids")
    val parked = new java.io.File(path + ".ids.compact-old")
    assert(live.exists(), "fixture needs a live sidecar base")
    assert(live.renameTo(parked))
    Similarity.appendToIvfIndex(batch2, centroids, path)
    // healed: base restored from the parked copy, then used normally
    assert(live.exists() && !parked.exists())
    val freshPath = java.nio.file.Files.createTempDirectory("ivf-crash-fresh")
      .resolve("idx").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 16), centroids, freshPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(path) == rows(freshPath),
      "post-recovery index must equal a fresh build — no lost or duplicate ids")
  }

  test("deleteFromIvfIndex: exact removal, emptied dirs, tombstone re-ingest") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") >= 16 && col("vec_id") < 400)
    val path = java.nio.file.Files.createTempDirectory("ivf-delete")
      .resolve("idx").toString
    Similarity.buildIvfIndex(base, centroids, path)
    def rows() = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = rows()
    // delete one whole centroid's residents plus a scattered slice
    val victimCid = before.head._2
    val victims = before.filter(_._2 == victimCid).map(_._1) ++
      before.filter(t => t._1 % 31 == 0).map(_._1)
    val n = Similarity.deleteFromIvfIndex(spark,
      victims.toSeq.toDF("vec_id"), path)
    assert(n == victims.size.toLong)
    assert(rows() == before.filterNot(t => victims.contains(t._1)))
    // the fully-evacuated partition directory is gone
    val dir = new java.io.File(new java.io.File(path),
      s"centroid_id=$victimCid")
    assert(!dir.exists(), s"emptied partition $dir left stale files")
    // deleting again is a no-op (tombstones made the ids absent)
    assert(Similarity.deleteFromIvfIndex(spark,
      victims.toSeq.toDF("vec_id"), path) == 0L)
    // a deleted id re-ingests cleanly as a pure insert — exactly one row
    val back = victims.head
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") === back),
      centroids, path)
    assert(rows().count(_._1 == back) == 1)
    // index content equals a fresh build over the surviving id set
    val freshPath = java.nio.file.Files.createTempDirectory("ivf-del-fresh")
      .resolve("idx").toString
    val surviving = (before.map(_._1) -- victims) + back
    Similarity.buildIvfIndex(
      emb.filter(col("vec_id").isin(surviving.toSeq: _*)), centroids, freshPath)
    def rowsAt(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rowsAt(path) == rowsAt(freshPath))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    Similarity.assignToCentroids(df, centroids)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("batched indexed search equals per-query indexed search, in one scan") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val batch = Similarity.ivfTopKIndexedBatch(indexPath, centroids, queries,
      k = 5, nProbe = 2)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = (0L until 5L).flatMap { qid =>
      val q1 = emb.filter(col("vec_id") === qid)
        .select(Similarity.asDouble(col("embedding")).as("qvec"))
      Similarity.ivfTopKIndexed(indexPath, centroids, q1, k = 5, nProbe = 2)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(got == expected)
    // one scan serves the whole batch (recurse through AQE query stages —
    // after execution the final plan's stages are leaves holding subplans)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
      }.flatten
    val plan = batch.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val indexScans = allScans(plan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivf-index")))
    assert(indexScans.size == 1,
      s"expected exactly one index scan for the batch, got ${indexScans.size}")
  }

  test("probed search is partition-pruned at the parquet source") {
    val indexed = Similarity.ivfTopKIndexed(indexPath, centroids,
      queryDf, k = 10, nProbe = 2)
    // AQE wraps the plan in AdaptiveSparkPlanExec (a leaf) — unwrap first
    val plan = indexed.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivf-index")))
    assert(scans.nonEmpty, "expected a parquet scan over the index")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "centroid_id")),
      s"expected centroid_id PartitionFilters, got: ${scan.partitionFilters}")
    // pruning must be real: the scan reads strictly fewer partitions than
    // the index holds (nProbe=2 of 16 centroids)
    val read = scan.relation.location.listFiles(scan.partitionFilters, Nil).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(read < total && read <= 2,
      s"expected <=2 probed partitions of $total, read $read")
  }

  test("rebalance: drifted index de-skews, persists centroids, keeps serving") {
    import spark.implicits._
    // planted data: 3 tight clusters along distinct axes, but the index
    // is built with BAD centroids (all three near cluster-0's axis), so
    // nearly everything lands in one hot bucket — the drift scenario
    def vec(axis: Int, i: Int): Array[Float] = {
      val v = Array.fill(8)(0.01f * ((i % 7) + 1))
      v(axis) = 10f + (i % 5); v
    }
    val data = (0 until 300).map(i => (i.toLong, vec(i % 3, i))).toDF("vec_id", "embedding")
    // c0 owns cluster 0; c1 straddles clusters 1 AND 2 (hot, 200 rows);
    // c2 points at an unused axis and owns NOTHING — the merged-bucket +
    // empty-bucket drift state plain Lloyd cannot escape
    val badCents = Seq(
      (0L, Array(10.0, 0.0, 0.0, 0, 0, 0, 0, 0.0)),
      (1L, Array(0.0, 0.5, 0.5, 0, 0, 0, 0, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 0, 0, 0, 0, 1.0))).toDF("cid", "cvec")
    val path = java.nio.file.Files.createTempDirectory("ivf-rebal")
      .resolve("idx").toString
    Similarity.buildIvfIndex(data, badCents, path)
    val stats = Similarity.rebalanceIvfIndex(spark, path, badCents, iters = 5)
      .collect()(0)
    val (moved, maxB, maxA) = (stats.getLong(0), stats.getLong(1), stats.getLong(3))
    // the hot merged bucket (200 rows) splits back to ~100 per bucket
    assert(maxB >= 200 && maxA < 150 && moved > 0,
      s"expected de-skew, got maxBefore=$maxB maxAfter=$maxA moved=$moved")
    // refined centroids persisted and the index still serves exactly:
    // a cluster-1 query probed with 1 bucket finds cluster-1 neighbors
    val refined = spark.read.parquet(Similarity.centroidsPath(path))
    val q = Seq(Tuple1(vec(1, 3).map(_.toDouble))).toDF("qvec")
    val hits = Similarity.ivfTopKIndexed(path, refined, q, k = 5, nProbe = 1)
      .collect().map(_.getLong(0))
    assert(hits.length == 5 && hits.forall(_ % 3 == 1),
      s"expected cluster-1 ids, got ${hits.toSeq}")
    // the maintenance op composes with ingest: append a UNIQUE-direction
    // vector after the rebalance; querying its own direction must return
    // it first (cos = 1, no planted ties share axis 5)
    val novel = { val v = Array.fill(8)(0.02f); v(5) = 9f; v }
    val extra = Seq((1000L, novel)).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(extra, refined, path)
    val q2 = Seq(Tuple1(novel.map(_.toDouble))).toDF("qvec")
    val hits2 = Similarity.ivfTopKIndexed(path, refined, q2, k = 3, nProbe = 1)
      .collect().map(_.getLong(0))
    assert(hits2.head == 1000L, s"expected appended id first, got ${hits2.toSeq}")
  }

  test("streaming ingest in micro-batches ≡ one-shot build, row for row") {
    import spark.implicits._
    val vecs = emb.filter(col("vec_id") >= 16)
    // one-shot reference index
    val oneShot = java.nio.file.Files.createTempDirectory("ivf-oneshot")
      .resolve("idx").toString
    Similarity.buildIvfIndex(vecs, centroids, oneShot)
    // the same vectors as four disjoint foreachBatch micro-batches
    val streamed = java.nio.file.Files.createTempDirectory("ivf-streamed")
      .resolve("idx").toString
    val rows = vecs
      .select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val batches = (0 until 4).map(k => rows.filter(_._1 % 4 == k).toSeq)
    graft.streaming.StreamingIvf.ingestInBatches(
      spark, batches, centroids, streamed)
    def contents(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id"),
        Similarity.asDouble(col("embedding")).as("e"))
      .as[(Long, Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val a = contents(oneShot)
    assert(a.nonEmpty && a == contents(streamed),
      "order-independent id-keyed upsert: any decomposition, same index")
    // and the search over the streamed index matches the one-shot answer
    val qa = Similarity.ivfTopKIndexed(oneShot, centroids, queryDf,
      k = 10, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qb = Similarity.ivfTopKIndexed(streamed, centroids, queryDf,
      k = 10, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(qa == qb)
  }

  test("pending staging: replay-idempotent, latest-batch-wins, crash-safe re-fold") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivf-pending")
      .resolve("idx").toString
    val base = emb.filter(col("vec_id") >= 16 && col("vec_id") < 400)
    Similarity.buildIvfIndex(base, centroids, path)
    def rows() = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = rows()
    // two staged batches re-ingest the SAME id with different embeddings
    // — the max-batchSeq one must win the fold (ordered-upsert semantics)
    val moveId = 20L
    val oldCid = before.collectFirst { case (id, cid) if id == moveId => cid }.get
    val donor = before.collectFirst { case (id, cid) if cid != oldCid => id }.get
    def rawEmb(id: Long) = emb.filter(col("vec_id") === id)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    val oldEmb = rawEmb(moveId)
    val newEmb = rawEmb(donor)
    def stage(e: Seq[Float], seq: Long): Unit =
      Similarity.stageIvfPendingBatch(
        Seq((moveId, e)).toDF("vec_id", "embedding"), centroids, path, seq)
    stage(oldEmb, 1L)
    stage(newEmb, 2L)
    // foreachBatch replay of batch 1 (crash-and-retry): rewrites its OWN
    // staging directory — never duplicates, never outranks batch 2
    stage(oldEmb, 1L)
    Similarity.foldIvfPending(spark, path)
    val after = rows()
    val mine = after.filter(_._1 == moveId)
    assert(mine.size == 1, s"expected one row for id $moveId, got $mine")
    assert(mine.head._2 != oldCid, "latest staged batch must win the fold")
    assert(after.filterNot(_._1 == moveId) == before.filterNot(_._1 == moveId),
      "fold must not disturb un-restaged ids")
    assert(!new java.io.File(path + ".pending").exists(),
      "fold must clear the staging buffer")
    // crash between the fold's index/sidecar writes and the buffer
    // clear: the re-run re-applies a value-identical buffer (idempotent)
    stage(newEmb, 2L)
    Similarity.foldIvfPending(spark, path)
    assert(rows() == after, "re-folding a replayed buffer must be a no-op")
    // a fold over an empty/absent buffer is a no-op
    Similarity.foldIvfPending(spark, path)
    assert(rows() == after)
  }

  test("a batch staged while a fold runs survives it and folds next time") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import java.util.concurrent.atomic.AtomicBoolean
    val tmp = java.nio.file.Files.createTempDirectory("ivf-fold-race")
    val path = tmp.resolve("idx").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id").between(16, 199)), centroids, path)
    def ids(from: Int, to: Int) = emb.filter(col("vec_id").between(from, to))
      .select("vec_id", "embedding")
    def indexed() = spark.read.parquet(path).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    Similarity.stageIvfPendingBatch(ids(200, 210), centroids, path, 1L)
    // a complete batch, staged beside the index and copied into its buffer
    // when the fold's first job starts: after the fold listed the buffer
    val spare = tmp.resolve("spare").toString
    Similarity.stageIvfPendingBatch(ids(300, 310), centroids, spare, 7L)
    val late = new Path(s"$path.pending/b=7")
    val fs = late.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folding = new AtomicBoolean(true)
    val stagedDuringFold = new AtomicBoolean()
    val staged = new AtomicBoolean()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (staged.compareAndSet(false, true)) {
          FileUtil.copy(fs, new Path(s"$spare.pending/b=7"), fs, late, false, fs.getConf)
          stagedDuringFold.set(folding.get)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try Similarity.foldIvfPending(spark, path)
    finally {
      folding.set(false)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(stagedDuringFold.get, "the batch must be staged while the fold runs")
    assert(fs.exists(late), "a batch staged during a fold must survive it")
    assert(!fs.exists(new Path(s"$path.pending/b=1")), "the folded batch is cleared")
    assert(indexed() == (16L to 210L).toSet)
    Similarity.foldIvfPending(spark, path)
    assert(indexed() == (16L to 210L).toSet ++ (300L to 310L))
    assert(!fs.exists(new Path(s"$path.pending")), "an empty buffer is removed")
  }

  test("nProbe recall ladder: non-decreasing, full probe = perfect recall") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 16)
    val exact = Similarity.bruteForceTopKBatch(corpus, queries, k = 5)
    val recalls = Seq(1, 4, 16).map { np =>
      val approx = Similarity.ivfTopKIndexedBatch(indexPath, centroids,
        queries, k = 5, nProbe = np)
      np -> Evaluation.recallAtK(exact, approx, k = 5)
        .agg(org.apache.spark.sql.functions.sum("n_hit")).head.getLong(0)
    }
    // more probes can only add candidates: hits are non-decreasing
    assert(recalls.sliding(2).forall(p => p(0)._2 <= p(1)._2), recalls.toString)
    // probing EVERY centroid is the exact scan: recall must be perfect
    assert(recalls.last._2 == 25L, s"expected 5 hits x 5 queries: $recalls")
  }

  test("ivfIndexFsck: clean index passes; planted corruption counted exactly") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val vecs = Seq((10L, Array(0.9f, 0.1f)), (11L, Array(0.1f, 0.8f)),
      (12L, Array(0.7f, 0.2f))).toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("ivf-fsck")
      .resolve("idx").toString
    Similarity.buildIvfIndex(vecs, cents, p)
    def run() = Similarity.ivfIndexFsck(spark, p, cents)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val clean = run()
    assert(clean("unique_ids") == ((3L, 0L, true)))
    assert(clean("placement") == ((3L, 0L, true)))
    assert(clean("sidecar") == ((3L, 0L, true)))
    // plant: a copy of vec 11 (true home = centroid 1) forced into dir 0
    Seq((11L, Array(0.1f, 0.8f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(p + "/centroid_id=0")
    val bad = run()
    // both copies of the duplicated id count
    assert(bad("unique_ids") == ((4L, 2L, false)))
    // only the planted copy is misplaced
    assert(bad("placement") == ((4L, 1L, false)))
    // (11, dir 0) disagrees with the sidecar's (11 -> 1)
    assert(bad("sidecar") == ((4L, 1L, false)))
  }
}
