package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale mechanics: skew-salted joins, z-order clustering, and the skew,
  * layout and join-strategy advisors.
  *
  * AQE's skew-join handling covers most hot-key cases at runtime; explicit
  * salting remains the tool when a single key dominates so heavily that
  * even split partitions of it won't fit (e.g. one client IP emitting a
  * double-digit percent of 100 TB of logs).
  */
object Scale {

  /** Inner/left equi-join with the big (skewed) side salted into
    * `numSalts` sub-keys and the small side replicated once per salt.
    * Results equal the plain join; the hot key's rows spread over
    * `numSalts` tasks instead of one.
    *
    * The salt is derived deterministically from `saltSource` (pick a
    * high-cardinality column of the big side, e.g. an event id).
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame, key: String,
      numSalts: Int, saltSource: Column, joinType: String = "inner"): DataFrame = {
    require(numSalts > 0)
    val salted = big.withColumn("_salt", pmod(abs(hash(saltSource)), lit(numSalts)))
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0), lit(numSalts - 1))))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("_salt") === replicated("_salt"),
        joinType)
      .drop(replicated(key)).drop(salted("_salt")).drop(replicated("_salt"))
  }

  /** Z-order (Morton) value of two non-negative bucketed dimensions:
    * bit i of `x` lands at output bit 2i, bit i of `y` at 2i+1 — the
    * space-filling-curve key behind multi-dimensional data clustering.
    * Rows close in BOTH dimensions get close z-values, so a range
    * partition on z keeps each output file's (x, y) bounding box small,
    * and min/max file statistics prune scans filtered on EITHER
    * dimension — the layout trick single-column sorting cannot give
    * (sort by x and a y-filter reads every file).
    *
    * Fixed expression of `2·bits` shift/mask/add terms — exact integer
    * math any engine reproduces; inputs must already be bucketed into
    * `[0, 2^bits)` (callers bucket by range/hash as fits the column).
    */
  def zOrderValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftright(x.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Range-partition `df` by the z-order of two bucketed dimensions —
    * the write-side clustering step: files written from this layout
    * carry tight min/max stats on BOTH columns. One range exchange
    * (sampling + shuffle), the same cost as any global sort.
    */
  def clusterByZOrder(df: DataFrame, x: Column, y: Column,
      numPartitions: Int, bits: Int = 16): DataFrame =
    df.withColumn("_z", zOrderValue(x, y, bits))
      .repartitionByRange(numPartitions, col("_z"))
      .drop("_z")

  /** Shuffle-skew advisor: simulate hash-partitioning the frame on
    * `key` into `parts` partitions (md5 bucket — engine-portable, so
    * the oracle replays it; Spark's Murmur3 layout differs only by a
    * permutation of the same mass) and report each partition's row mass
    * as exact floored ppm of the total. The max row's share IS the
    * straggler bound for any shuffle keyed this way — the number the
    * salting/AQE-skew decision reads. Null keys hash together into
    * their own row, surfaced rather than dropped (an all-null key is
    * the most common real-world skew whale). One grouped count + a
    * broadcast of the 1-row total; scan-bound at any SF.
    */
  def skewProfile(df: DataFrame, key: Column, parts: Int): DataFrame = {
    require(parts >= 2, "parts must be >= 2")
    val bucket = pmod(graft.functions.HashExpressions.md5Prefix64(key.cast("string"), 15), lit(parts.toLong))
    val counts = df.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_rows"),
        expr("(1000000 * n_rows) div n_total").as("share_ppm"))
  }

  /** Reshard movement audit — the capacity-planning number behind a
    * shard-count change: how many keys move when a rendezvous-hashed
    * layout grows from `fromShards` to `toShards`. Rendezvous hashing
    * guarantees MINIMAL movement (a key moves only when a NEW shard
    * wins its score race — expected k/(n+k) for n→n+k growth), and
    * this op measures the exact realized share: both assignments per
    * key in one narrow pass (the score lattice is md5-derived, so the
    * oracle replays it), one global aggregate. Emits a single row
    * `(from_shards, to_shards, n_keys, n_moved, moved_ppm)`.
    */
  def reshardMovement(df: DataFrame, idCol: String, fromShards: Int,
      toShards: Int): DataFrame = {
    require(fromShards >= 1 && toShards >= 1 && fromShards != toShards)
    // ONE md5 lattice of max(from, to) scores per key; both assignments
    // are argmaxes over prefixes of the same array (rendezvous scores
    // for shard j do not depend on the shard count) — 45% fewer md5
    // evaluations than two independent rendezvousShard passes, and the
    // shared lattice is itself the minimality argument: the winner can
    // only change when a NEW index wins
    val nMax = math.max(fromShards, toShards)
    val scores = transform(sequence(lit(0), lit(nMax - 1)),
      i => graft.functions.HashExpressions.md5Prefix64(concat(col(idCol).cast("string"), lit("|"),
        i.cast("string")), 8))
    def argmax(n: Int) = {
      val s = slice(col("_sc"), 1, n)
      (array_position(s, array_max(s)) - 1).cast("long")
    }
    // EXPLICIT spread before the lattice (the negativeSample discipline,
    // round-15): the nMax-hash projection is compute-dominated at every
    // scale (nMax digests per key vs 8 bytes of key), yet behind a
    // small-byte distinct AQE coalesces the stage to ONE task (measured:
    // the whole q260 lattice single-threaded). ROUND-ROBIN with a pinned
    // count, deliberately: a repartition KEYED on the id merges into the
    // upstream distinct's ENSURE_REQUIREMENTS exchange (verified in the
    // plan) and becomes coalescible again; keys-for-compute is a trade
    // that only gets better as nMax or the corpus grows.
    val shufflePartitions = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val both = df.where(col(idCol).isNotNull).select(col(idCol))
      .repartition(shufflePartitions)
      .withColumn("_sc", scores)
      .withColumn("shard_from", argmax(fromShards))
      .withColumn("shard_to", argmax(toShards))
    both.agg(count(lit(1)).as("n_keys"),
        sum(when(col("shard_from") =!= col("shard_to"), 1L)
          .otherwise(0L)).as("n_moved"))
      .select(lit(fromShards.toLong).as("from_shards"),
        lit(toShards.toLong).as("to_shards"), col("n_keys"),
        col("n_moved"),
        when(col("n_keys") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * n_moved) div n_keys"))
          .as("moved_ppm"))
  }

  /** Small-file compaction plan — the table-maintenance verb every
    * long-lived lake runs nightly: group each partition directory's
    * files into rewrite tasks ("bins") of roughly `targetBytes` each.
    *
    * Deterministic sequential-fill (not first-fit-decreasing, whose
    * per-bin state is inherently serial): within a dir, files ordered
    * (bytes DESC, file ASC) fill bins by running cumulative size —
    * `bin = (cumsum − 1) div target`. Big files land first so each
    * early bin is one large file; the small-file tail packs densely
    * into the later bins. A single file larger than `target` keeps one
    * bin id (it spans the cumsum range alone) — a rewrite task never
    * splits a file. One window per dir (partition-parallel across
    * dirs), one grouped aggregate; nothing data-sized crosses dirs, so
    * the plan costs O(files), never O(rows) — at 100 TB the input is
    * the file LISTING, a million-row frame at most.
    *
    * Emits one row per bin: `(dir, bin_id, n_files, bin_bytes,
    * max_file_bytes, needs_compaction)` — the flag is `n_files > 1`
    * (a bin that is already a single right-sized file is a no-op).
    * Non-positive sizes are rejected loudly: a 0-byte file in a
    * listing is a manifest bug, and silently binning it would corrupt
    * the cumsum lattice the oracle replays.
    */
  def compactionPlan(files: DataFrame, dirCol: String, fileCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.spark.sql.expressions.Window
    val checked = files.select(col(dirCol).as("dir"),
      col(fileCol).as("file_id"),
      when(col(bytesCol) <= 0, expr(
        s"raise_error('compactionPlan: non-positive $bytesCol')"))
        .otherwise(col(bytesCol)).cast("long").as("bytes"))
    val w = Window.partitionBy("dir")
      .orderBy(col("bytes").desc, col("file_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    checked
      .withColumn("cum", sum("bytes").over(w))
      .withColumn("bin_id", expr(s"(cum - 1) div ${targetBytes}L"))
      .groupBy("dir", "bin_id")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"),
        max("bytes").as("max_file_bytes"))
      .withColumn("needs_compaction", col("n_files") > 1)
  }

  /** Zone-map pruning audit — the LAYOUT decision table. Simulates two
    * physical layouts of the same fact table (hash-by-key files vs
    * time-clustered weekly files), derives each file's min/max "zone
    * map" for the date column, and replays a predicate set against the
    * maps: how many files would a reader skip, and how many rows does
    * each surviving file force it to scan? The number that justifies
    * sorting/clustering 100 TB by time — a hash layout scans ~every
    * file for a quarter predicate; a time-clustered one scans ~13
    * weekly files — produced as data, not as folklore. Cost: ONE
    * grouped min/max/count per layout (map-side combinable; the file
    * lattice is calendar/modulus-bounded, never data-sized) plus one
    * shared conditional aggregate for true match counts. Predicates
    * are half-open day ranges `[lo, hi)`; a file survives when
    * `mx ≥ lo AND mn < hi`.
    */
  def zoneMapAudit(df: DataFrame, dateCol: String, hashKeyCol: String,
      predicates: Seq[(Int, Int)], nHashFiles: Int = 64): DataFrame = {
    require(predicates.nonEmpty && predicates.forall(p => p._1 < p._2),
      "predicates must be non-empty half-open [lo, hi) day ranges")
    import df.sparkSession.implicits._
    val base = df
      .filter(col(dateCol).isNotNull && col(hashKeyCol).isNotNull)
      .select(expr(
        s"unix_micros(cast($dateCol as timestamp)) div 86400000000").as("d"),
        col(hashKeyCol).as("k"))
    val preds = predicates.zipWithIndex
      .map { case ((lo, hi), i) => (i.toLong, lo.toLong, hi.toLong) }
      .toDF("pred_id", "lo", "hi")
    def audit(layout: String, fileCol: Column) = {
      val zones = base.groupBy(fileCol.as("f"))
        .agg(min("d").as("mn"), max("d").as("mx"), count(lit(1)).as("rows"))
      zones.crossJoin(broadcast(preds))
        .groupBy("pred_id", "lo", "hi")
        .agg(count(lit(1)).as("files_total"),
          sum(when(col("mx") >= col("lo") && col("mn") < col("hi"), 1L)
            .otherwise(0L)).as("files_scanned"),
          sum(when(col("mx") >= col("lo") && col("mn") < col("hi"),
            col("rows")).otherwise(0L)).as("rows_scanned"))
        .select(lit(layout).as("layout"), col("pred_id"), col("lo"),
          col("hi"), col("files_total"), col("files_scanned"),
          col("rows_scanned"))
    }
    val matched = base.crossJoin(broadcast(preds))
      .groupBy("pred_id")
      .agg(sum(when(col("d") >= col("lo") && col("d") < col("hi"), 1L)
        .otherwise(0L)).as("rows_matched"))
    audit("hash", pmod(col("k"), lit(nHashFiles.toLong)))
      .unionByName(audit("time", expr("d div 7")))
      .join(matched, "pred_id")
      .select(col("layout"), col("pred_id"), col("files_total"),
        col("files_scanned"), col("rows_scanned"), col("rows_matched"),
        expr("(1000000 * (files_total - files_scanned)) div files_total")
          .as("prune_ppm"))
  }

  /** Join-strategy planner over exact relation stats — the "would I
    * broadcast this at 100 TB" decision, made from data instead of
    * intuition. For each candidate equi-join edge it takes the two
    * relation cardinalities (each ONE count aggregate — the cheapest
    * statistic a warehouse owns) and applies a pinned cost model:
    * build side ≤ `broadcastRows` → broadcast (zero shuffled rows);
    * build ≤ probe/4 → shuffle-hash; else sort-merge — with the
    * shuffled-row estimate `left + right` for the non-broadcast
    * strategies. The output is the plan-review table: every edge, its
    * sizes, the strategy the cost model picks, and what the wrong
    * choice would move across the network.
    */
  def joinStrategyPlan(edges: Seq[(String, DataFrame, DataFrame)],
      broadcastRows: Long = 1000000L): DataFrame = {
    require(edges.nonEmpty, "need at least one join edge")
    edges.map { case (name, left, right) =>
      left.agg(count(lit(1)).as("left_rows"))
        .crossJoin(right.agg(count(lit(1)).as("right_rows")))
        .select(lit(name).as("edge"), col("left_rows"), col("right_rows"),
          when(col("right_rows") <= broadcastRows, "broadcast")
            .when(col("right_rows") * 4 <= col("left_rows"), "shuffle_hash")
            .otherwise("sort_merge").as("strategy"),
          when(col("right_rows") <= broadcastRows, 0L)
            .otherwise(col("left_rows") + col("right_rows"))
            .as("shuffled_rows"))
    }.reduce(_.unionByName(_))
  }
}
