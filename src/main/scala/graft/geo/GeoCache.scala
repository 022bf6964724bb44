package graft.geo

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.elb.ElbSchema

/** Parquet-backed memo cache for geolocation lookups + the enrichment join.
  *
  * Reference dataflow (advanced_elb_logs_etl.py:231-265): load cache →
  * distinct IPs → misses = IPs ∉ cache → serial fetch → keep-last upsert →
  * rewrite cache → left-join logs → rename `country`→`countryName`.
  *
  * Spark-first mapping: the miss set is a `left_anti` join against the
  * cache's rows as written; the cache is an append-only directory of
  * parquet files — each run adds its fresh rows as new files and never
  * rewrites or deletes one, so a concurrent run never loses a file it has
  * listed — and the keep-last rule is applied on read (newest
  * `api_fetch_timestamp` per `query`), once per run, on the driver. The
  * final enrichment is a *broadcast* left join (the cache is bounded by distinct IP
  * cardinality, orders of magnitude smaller than the 100 TB log side, so
  * it never deserves a shuffle of the big table).
  */
object GeoCache {

  /** Rows per slice of the frame [[load]] returns. A cache row is about
    * 200 bytes, so a slice stays under the 1000 KiB task size that Spark
    * warns about; the broadcast collects the slices back in one job. */
  private val RowsPerSlice = 4096

  /** Schema-defensive cache load: missing path / empty dir → empty frame
    * with the canonical 12-column schema (reference: advanced_elb_logs_etl.py:201-229).
    * Keeps one row per `query`: the newest `api_fetch_timestamp`, ties
    * broken by the remaining columns in schema order so the survivor is
    * deterministic. Sequential runs never add a duplicate (misses are
    * anti-joined against the cache); only runs that resolved the same IP
    * concurrently do.
    *
    * The rows are collected once and the rule is applied on the driver:
    * the enrichment join broadcasts the cache, so it comes to the driver
    * anyway, and a per-`query` aggregate over it planned as a sort-based
    * aggregate with two sort stages of generated code. Rows are compared
    * with Catalyst's own ordering, so ties, nulls, NaN and -0.0 rank as
    * they did under `max(struct(api_fetch_timestamp, rest...))`, and an
    * equal row keeps the one seen first, as `max`'s buffer does. The
    * survivors come back as a frame over their internal rows, in slices
    * of [[RowsPerSlice]]; at ~170k cached IPs it joined faster than a
    * local relation of the same rows.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    val schema = ElbSchema.geo
    val ranked = ("api_fetch_timestamp" +: schema.fieldNames.toSeq.filterNot(
      Set("query", "api_fetch_timestamp"))).map(schema.fieldIndex)
    val ordering = new InterpretedOrdering(ranked.map(i =>
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)))
    val query = schema.fieldIndex("query")
    val newest = mutable.LinkedHashMap.empty[UTF8String, InternalRow]
    for (row <- stored(spark, path).fold(Array.empty[InternalRow])(GraftColumns.collectInternal)) {
      val key = row.getUTF8String(query)
      if (newest.get(key).forall(ordering.compare(row, _) > 0)) newest(key) = row
    }
    val slices = 1 + newest.size / RowsPerSlice
    GraftColumns.dataFrame(spark, spark.sparkContext.parallelize(newest.values.toSeq, slices), schema)
  }

  /** The cache's rows as written, duplicates included; None when `path`
    * holds no data file. */
  private def stored(spark: SparkSession, path: String): Option[DataFrame] = {
    // Hadoop FS API, not java.io.File — the cache may live on S3/HDFS,
    // where a local-file existence check would silently report "absent"
    // and defeat the memoization on every run
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && (fs.getFileStatus(p).isFile ||
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
    if (hasData) Some(spark.read.schema(ElbSchema.geo).parquet(path)) else None
  }

  /** Distinct non-null client IPs in `logs` that are absent from `cache`.
    * `cache` may hold several rows per `query`: any one of them is a hit. */
  def misses(logs: DataFrame, cache: DataFrame): DataFrame =
    logs.select(col("client_ip")).where(col("client_ip").isNotNull).distinct()
      .join(cache.select(col("query")), col("client_ip") === col("query"), "left_anti")

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
    // resolve the filesystem FROM the path (like load) — FileSystem.get
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

  /** One run's capped miss selection: the lexicographically-FIRST `max`
    * misses (deterministic — a bare `limit` takes a partitioning-dependent
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
    val missSet = misses(logs, cache)
    val ips = missSet.orderBy(col("client_ip")).limit(max)
      .as[String].collect().toSeq
    // backlog == cap exactly is a complete run, not a deferral
    val deferred = if (ips.size == max) missSet.count() - max else 0L
    (ips, deferred)
  }

  /** Full enrichment stage: resolve cache misses via `resolver`, append
    * them to the cache, load it, then broadcast-left-join onto `logs` and
    * apply the reference's column standardization (`country` →
    * `countryName`).
    *
    * The misses are anti-joined against the cache's rows as written: any
    * row for an IP makes it a hit, so finding them needs no newest-row
    * aggregate, and [[load]] runs once, after the append. Loading after
    * the append (not an in-memory union) also picks up rows a concurrent
    * run appended meanwhile, deduplicated by [[load]].
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
    val hits = stored(spark, cachePath).getOrElse(Seq.empty[String].toDF("query"))
    val (missIps, deferred) = selectMisses(spark, logs, hits, maxMissesPerRun)
    if (deferred > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"geo cache: resolved the per-run cap of $maxMissesPerRun misses; " +
        s"deferring $deferred to the next run (memo cache converges)")
    if (missIps.nonEmpty)
      append(resolver.resolve(missIps).toDF()
        .select(ElbSchema.geo.fieldNames.map(col).toSeq: _*), cachePath)
    val cache = load(spark, cachePath)
    logs.join(broadcast(cache), logs("client_ip") === cache("query"), "left")
      .withColumnRenamed("country", "countryName")
  }
}
