package graft.ops

import graft.SparkSpec
import graft.queries.Tables
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted equi-join equals the plain join on skewed data") {
    // one hot key carrying 90% of rows
    val big = (1 to 5000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toLong))
      .toDF("k", "payload")
    val small = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty"), (999L, "none"))
      .toDF("k", "name")
    val plain = big.join(small, "k").select("k", "payload", "name")
    val salted = Scale.saltedEquiJoin(big, small, "k", 8, col("payload"))
      .select("k", "payload", "name")
    assert(plain.count() == salted.count())
    assert(plain.except(salted).count() == 0)
    assert(salted.except(plain).count() == 0)
  }

  test("approximate aggregates stay inside their error envelopes") {
    val ev = Tables.events(spark, sf("sf0.01"))
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx"),
      expr("percentile(value, 0.5)").as("exact_med"),
      expr("approx_percentile(value, 0.5, 10000)").as("approx_med")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    // HLL++ default rsd = 5%; allow 3x slack for one draw
    assert(math.abs(approx - exact).toDouble / exact <= 0.15,
      s"approx_count_distinct too far off: $approx vs $exact")
    val (em, am) = (row.getDouble(2), row.getDouble(3))
    // with accuracy 10000 over 100k rows the rank error is <= 1e-4*n,
    // so the approximate median must land within the central value band
    assert(math.abs(am - em) <= 0.05 * math.max(math.abs(em), 1.0),
      s"approx_percentile drifted: $am vs $em")
  }

  test("zOrderValue: hand-computed Morton interleave") {
    import spark.implicits._
    // x=3 (011), y=5 (101): bits → 1 + 2 + 4 + 32 = 39
    val got = Seq((3L, 5L), (0L, 0L), (7L, 0L), (0L, 7L))
      .toDF("x", "y")
      .select(Scale.zOrderValue(col("x"), col("y"), bits = 3).as("z"))
      .as[Long].collect().toSeq
    assert(got == Seq(39L, 0L, 21L, 42L)) // x fills even bits, y odd bits
  }

  test("clusterByZOrder: partitions bound BOTH dimensions tighter than a 1-d sort") {
    import spark.implicits._
    // 32×32 grid of points; compare per-partition y-extent under
    // z-clustering vs plain x-ordering (which leaves y unbounded)
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def maxYExtent(df: org.apache.spark.sql.DataFrame): Long = {
      val exts = df.rdd.mapPartitions { it =>
        val ys = it.map(_.getAs[Long]("y")).toSeq
        if (ys.isEmpty) Iterator.empty
        else Iterator.single(ys.max - ys.min)
      }.collect()
      if (exts.isEmpty) 0L else exts.max
    }
    val z = Scale.clusterByZOrder(grid, col("x"), col("y"), 16, bits = 5)
    val xSorted = grid.repartitionByRange(16, col("x"))
    assert(z.rdd.getNumPartitions == 16)
    // x-range partitioning leaves each partition spanning ALL of y
    assert(maxYExtent(xSorted) == 31L)
    assert(maxYExtent(z) < 31L,
      s"z-clustered partitions must bound y (got ${maxYExtent(z)})")
  }

  test("skewProfile: ppm mass exact, null keys surfaced as their own row") {
    import spark.implicits._
    val df = (Seq.fill(6)(Some("hot")) ++ Seq.fill(3)(Some("warm"))
      ++ Seq(Option.empty[String])).toDF("k")
    val got = Scale.skewProfile(df, org.apache.spark.sql.functions.col("k"),
      parts = 16).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getLong(1), r.getLong(2)))
    assert(got.map(_._2).sum == 10L)
    val nullRow = got.find(_._1.isEmpty).get
    assert(nullRow._2 == 1L && nullRow._3 == 100000L)
    assert(got.exists(r => r._2 == 6L && r._3 == 600000L), "hot bucket ppm")
    got.foreach(r => r._1.foreach(b => assert(b >= 0 && b < 16)))
  }

  test("compactionPlan: sequential-fill bins, oversize isolated, dirs independent") {
    import spark.implicits._
    val files = Seq(
      ("a", 1L, 700000L), ("a", 2L, 400000L), ("a", 3L, 300000L),
      ("a", 4L, 200000L), ("a", 5L, 100000L),
      ("b", 1L, 1500000L), ("b", 2L, 600000L))
      .toDF("dir_name", "file_id", "bytes")
    val plan = Scale.compactionPlan(files, "dir_name", "file_id", "bytes",
        targetBytes = 1000000L)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // dir a: the 700k file fills bin 0 alone; the 4-file tail packs bin 1
    // to exactly the 1 MB target (cum 1.1M/1.4M/1.6M/1.7M all -> bin 1)
    assert(plan(("a", 0L)) == ((1L, 700000L, 700000L, false)))
    assert(plan(("a", 1L)) == ((4L, 1000000L, 400000L, true)))
    // dir b: the 1.5 MB file spans the cumsum range into bin 1 ALONE —
    // a plan never splits a file — and the 600k follower starts bin 2
    assert(plan(("b", 1L)) == ((1L, 1500000L, 1500000L, false)))
    assert(plan(("b", 2L)) == ((1L, 600000L, 600000L, false)))
    assert(plan.size == 4)
  }

  test("bloomFilteredJoin: equals the plain join; prefilter kills non-matches") {
    import spark.implicits._
    val big = (1L to 2000L).map(i => (i % 100, i)).toDF("k", "payload")
    val small = Seq((7L, "seven"), (13L, "thirteen"), (999L, "none"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "payload", "name")
    val bloomed = graft.ops.Relational
      .bloomFilteredJoin(big, small, "k")
      .select("k", "payload", "name")
    assert(plain.count() == bloomed.count() && bloomed.count() == 40L)
    assert(plain.except(bloomed).count() == 0)
    assert(bloomed.except(plain).count() == 0)
    // null probe keys never match (same as the plain inner join)
    val withNull = big.unionByName(
      Seq((Option.empty[Long], 0L)).toDF("k", "payload"))
    assert(graft.ops.Relational.bloomFilteredJoin(withNull, small, "k")
      .count() == 40L)
  }

  test("reshardMovement: only NEW shards steal keys; summary matches per-key truth") {
    import spark.implicits._
    val keys = (1L to 2000L).map(Tuple1(_)).toDF("k")
    val both = Sampling.rendezvousShard(
      Sampling.rendezvousShard(keys, "k", 4, "s_from"), "k", 8, "s_to")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // rendezvous minimality: a key moves ONLY when a shard j >= 4 wins —
    // old shards' relative scores are unchanged by the grow-out
    both.filter { case (f, t) => f != t }
      .foreach { case (_, t) => assert(t >= 4, "an old shard stole a key") }
    val moved = both.count { case (f, t) => f != t }
    val row = Scale.reshardMovement(keys, "k", 4, 8).collect().head
    assert(row.getLong(2) == 2000L && row.getLong(3) == moved.toLong)
    assert(row.getLong(4) == 1000000L * moved / 2000)
    // expected movement ~ 4/8 = 50%; generous envelope for 2000 draws
    assert(moved > 700 && moved < 1300, s"moved=$moved")
  }

  test("compactionPlan: a non-positive file size fails by name") {
    import spark.implicits._
    val bad = Seq(("a", 1L, 0L)).toDF("dir_name", "file_id", "bytes")
    val e = intercept[Exception] {
      Scale.compactionPlan(bad, "dir_name", "file_id", "bytes", 1000L)
        .collect()
    }
    assert(e.toString.contains("compactionPlan") ||
      Option(e.getCause).exists(_.toString.contains("compactionPlan")))
  }

  test("zoneMapAudit: time layout prunes the out-of-range file, hash can't") {
    import spark.implicits._
    // two weeks of data: keys interleave the weeks, so both hash files
    // span the whole range (no pruning); weekly files split cleanly
    def day(d: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(d.toLong).atStartOfDay())
    val rows = Seq((day(0), 0L), (day(1), 1L), (day(7), 2L), (day(8), 3L))
    val got = Scale.zoneMapAudit(rows.toDF("dt", "k"), "dt", "k",
      Seq((0, 7)), nHashFiles = 2)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // hash: keys 0,2 → file 0 (days 0,7); keys 1,3 → file 1 (days 1,8)
    // both files straddle the predicate → 2 scanned, 4 rows for 2 hits
    assert(got("hash") == (("hash", 0L, 2L, 2L, 4L, 2L, 0L)), s"$got")
    // time: week-0 file holds exactly the matching rows; week-1 pruned
    assert(got("time") == (("time", 0L, 2L, 1L, 2L, 2L, 500000L)), s"$got")
  }

  test("joinStrategyPlan: all three strategies from the pinned model") {
    import spark.implicits._
    val big = (1L to 100L).toDF("x")
    val mid = (1L to 20L).toDF("x")
    val tiny = (1L to 5L).toDF("x")
    val got = Scale.joinStrategyPlan(Seq(
      ("big->tiny", big, tiny), ("big->mid", big, mid),
      ("mid->big", mid, big)), broadcastRows = 10L)
      .as[(String, Long, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("big->tiny") == (("big->tiny", 100L, 5L, "broadcast", 0L)))
    assert(got("big->mid") == (("big->mid", 100L, 20L, "shuffle_hash", 120L)))
    assert(got("mid->big") == (("mid->big", 20L, 100L, "sort_merge", 120L)))
  }
}
