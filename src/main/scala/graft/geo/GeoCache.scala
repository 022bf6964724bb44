package graft.geo

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, InterpretedUnsafeProjection, SortOrder, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.elb.ElbSchema

/** Parquet-backed memo cache for geolocation lookups + the enrichment join.
  *
  * Reference dataflow (advanced_elb_logs_etl.py:231-265): load cache →
  * distinct IPs → misses = IPs ∉ cache → serial fetch → keep-last upsert →
  * rewrite cache → left-join logs → rename `country`→`countryName`.
  *
  * Spark-first mapping: the cache is an append-only directory of parquet
  * files — each run adds its fresh rows as new files and never rewrites
  * or deletes one, so a concurrent run never loses a file it has listed —
  * read once per run, with the keep-last rule (newest
  * `api_fetch_timestamp` per `query`) applied on the driver. The miss set
  * and the final enrichment are *broadcast* joins (the cache is bounded
  * by distinct IP cardinality, orders of magnitude smaller than the
  * 100 TB log side, so it never deserves a shuffle of the big table).
  */
object GeoCache {

  /** Serialized bytes per slice of a [[frame]]. Each slice is a task of
    * the broadcast's collect job: as few as keep a task under the 1000 KiB
    * that Spark warns about. */
  private val SliceBytes = 900 * 1024

  /** Schema-defensive cache load: missing path / empty dir → empty frame
    * with the canonical 12-column schema (reference: advanced_elb_logs_etl.py:201-229).
    * Keeps one row per `query` ([[keepNewest]]). Sequential runs never add
    * a duplicate (misses are anti-joined against the cache); only runs
    * that resolved the same IP concurrently do.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    frame(spark, keepNewest(stored(spark, path), mutable.LinkedHashMap.empty).values, ElbSchema.geo)

  /** Adds `rows` to `newest`, which keeps one row per `query`: the newest
    * `api_fetch_timestamp`, ties broken by the remaining columns in schema
    * order so the survivor is deterministic. The rule runs on the driver:
    * the enrichment join broadcasts the cache, so it comes to the driver
    * anyway, and a per-`query` aggregate over it planned as a sort-based
    * aggregate with two sort stages of generated code. Rows are compared
    * with Catalyst's own ordering, so ties, nulls, NaN and -0.0 rank as
    * they did under `max(struct(api_fetch_timestamp, rest...))`, and an
    * equal row keeps the one seen first, as `max`'s buffer does.
    */
  private def keepNewest(rows: Iterable[UnsafeRow],
      newest: mutable.LinkedHashMap[UTF8String, UnsafeRow]): newest.type = {
    val schema = ElbSchema.geo
    val ranked = ("api_fetch_timestamp" +: schema.fieldNames.toSeq.filterNot(
      Set("query", "api_fetch_timestamp"))).map(schema.fieldIndex)
    val ordering = new InterpretedOrdering(ranked.map(i =>
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)))
    val query = schema.fieldIndex("query")
    for (row <- rows) {
      val key = row.getUTF8String(query)
      if (newest.get(key).forall(ordering.compare(row, _) > 0)) newest(key) = row
    }
    newest
  }

  /** The cache's rows as written, duplicates included: one listing and one
    * action, none when `path` does not exist. */
  private def stored(spark: SparkSession, path: String): Array[UnsafeRow] = {
    // Hadoop FS API, not java.io.File — the cache may live on S3/HDFS,
    // where a local-file existence check would silently report "absent"
    // and defeat the memoization on every run
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Array.empty
    else GraftColumns.collectInternal(spark.read.schema(ElbSchema.geo).parquet(path))
  }

  /** A frame over held rows, in slices of about [[SliceBytes]] (a row's
    * bytes plus ~17 of Java serialization's). At ~170k cached IPs it
    * joined faster than a local relation of the same rows. */
  private def frame(spark: SparkSession, rows: Iterable[UnsafeRow], schema: StructType) =
    GraftColumns.dataFrame(spark, spark.sparkContext.parallelize(rows.toSeq,
      1 + (rows.iterator.map(_.getSizeInBytes + 17L).sum / SliceBytes).toInt), schema)

  /** Add `fresh` to the cache at `path` as new files. The rows are written
    * to `<path>/_stage-<uuid>` — a `_`-prefixed directory, which Spark's
    * file listing and a DuckDB `*.parquet` glob over the cache both skip —
    * and each data file is then renamed into `<path>` (Spark's part-file
    * names are unique per write). A crash leaves at most a stage
    * directory behind, which readers ignore.
    */
  def append(fresh: DataFrame, path: String): Unit = {
    val stage = new org.apache.hadoop.fs.Path(
      path, s"_stage-${java.util.UUID.randomUUID()}")
    fresh.coalesce(1).write.parquet(stage.toString)
    // resolve the filesystem FROM the path (like stored) — FileSystem.get
    // would return the default FS and throw 'Wrong FS' for an s3a:// cache
    val fs = stage.getFileSystem(
      fresh.sparkSession.sparkContext.hadoopConfiguration)
    for (f <- fs.listStatus(stage) if f.getPath.getName.endsWith(".parquet")) {
      // Hadoop signals many rename failures by returning false, not throwing
      if (!fs.rename(f.getPath, new org.apache.hadoop.fs.Path(path, f.getPath.getName)))
        throw new java.io.IOException(
          s"geo cache append failed: rename ${f.getPath} -> $path returned false")
    }
    fs.delete(stage, true)
  }

  /** One run's capped miss selection over the distinct non-null client
    * IPs of `logs` absent from `cache` (a broadcast anti-join; any row for
    * an IP is a hit): the lexicographically-FIRST `max` misses
    * (deterministic — a bare `limit` takes a partitioning-dependent
    * subset, so two runs over the same backlog would retire different
    * slices) plus the counted deferred remainder. The sort executes as
    * TakeOrderedAndProject (per-partition top-K + merge), never a global
    * sort materialization; the remainder count re-runs the anti-join but
    * only on a capped run, where one more column-pruned pass is noise
    * next to the serial lookup burst it precedes.
    */
  private[geo] def selectMisses(spark: SparkSession, logs: DataFrame,
      cache: DataFrame, max: Int): (Seq[String], Long) = {
    import spark.implicits._
    val missSet = logs.select(col("client_ip")).where(col("client_ip").isNotNull).distinct()
      .join(broadcast(cache.select(col("query"))), col("client_ip") === col("query"), "left_anti")
    val ips = missSet.orderBy(col("client_ip")).limit(max)
      .as[String].collect().toSeq
    // backlog == cap exactly is a complete run, not a deferral
    val deferred = if (ips.size == max) missSet.count() - max else 0L
    (ips, deferred)
  }

  /** Full enrichment stage: read the cache once ([[stored]], reduced by
    * [[keepNewest]]), anti-join the misses against its keys, resolve them
    * via `resolver` and append them to the cache, then broadcast-left-join
    * the loaded rows plus the fresh ones (added to the same newest-row map;
    * nothing is read back) onto `logs` and apply the reference's column
    * standardization (`country` → `countryName`). Rows that a concurrent
    * run appends after this run's read are not in this run's join; the
    * next run picks them up.
    *
    * `maxMissesPerRun` bounds the driver-side collect: at 100 TB the
    * distinct-miss set alone can be tens of millions of rows — an
    * unbounded collect OOMs the driver before the rate limiter even
    * matters. Rows beyond the cap stay unenriched this run (null geo
    * columns after the left join, same as a failed lookup) and the memo
    * cache converges over successive runs. The reference resolves serially
    * per-IP anyway (advanced_elb_logs_etl.py:239-242), so bounding changes
    * no semantics, only how much of the backlog one run retires.
    */
  def enrich(spark: SparkSession, logs: DataFrame, cachePath: String,
      resolver: GeoResolver, maxMissesPerRun: Int = 100000): DataFrame = {
    import spark.implicits._
    val newest = keepNewest(stored(spark, cachePath), mutable.LinkedHashMap.empty)
    // interpreted: a pass compiles no class for it
    val toKey = InterpretedUnsafeProjection.createProjection(
      Seq(BoundReference(ElbSchema.geo.fieldIndex("query"), StringType, nullable = true)))
    val keys = frame(spark, newest.values.map(toKey(_).copy()), StructType(Seq(ElbSchema.geo("query"))))
    val (missIps, deferred) = selectMisses(spark, logs, keys, maxMissesPerRun)
    if (deferred > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"geo cache: resolved the per-run cap of $maxMissesPerRun misses; " +
        s"deferring $deferred to the next run (memo cache converges)")
    if (missIps.nonEmpty) {
      val fresh = resolver.resolve(missIps).toDF().select(ElbSchema.geo.fieldNames.map(col).toSeq: _*)
      append(fresh, cachePath)
      keepNewest(GraftColumns.collectInternal(fresh), newest)
    }
    val cache = frame(spark, newest.values, ElbSchema.geo)
    logs.join(broadcast(cache), logs("client_ip") === cache("query"), "left")
      .withColumnRenamed("country", "countryName")
  }
}
