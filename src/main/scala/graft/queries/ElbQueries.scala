package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.elb.{ElbParser, Features, SyntheticElb, Sinks}
import graft.geo.{GeoCache, OfflineGeoResolver}

/** The ELB-domain pipeline surfaced as oracle-checked queries.
  *
  * The raw `.gz` corpus isn't DuckDB-readable, so two staging tables are
  * written under the (deterministic) corpus dir for the oracle:
  *  - `_staged/raw_lines.parquet` — the corpus lines, generated *directly*
  *    from [[SyntheticElb.line]] (not re-read from the gz files), so the
  *    oracle independently cross-checks the gzip scan path too;
  *  - `_staged/geo_cache.parquet` — the geo cache the pipeline itself
  *    builds (the resolver is an effectful service, spec-tested; the oracle
  *    verifies the broadcast-join *semantics* against the same table).
  *
  * Everything else — quote-aware tokenization (S3), sentinel casts (P2/P3),
  * the two-format timestamp parse (P4), URL decomposition (P8), status
  * buckets (P11), bot heuristic (P10), rejection filters (F1/F2/F4), the
  * geo left join (J1), sessionization and the half-open rolling windows
  * (W1-W4), and the hourly rollup (A1) — is re-derived in SQL from the raw
  * lines, making this the hard rows+schema+hash gate for the parse path
  * (reference: advanced_elb_logs_etl.py:77-153, 303-319, 347-359).
  *
  * The synthetic dataset size scales with the harness SF so the bench
  * measures parse throughput meaningfully.
  */
object ElbQueries {
  type Q = (SparkSession, String) => DataFrame

  // sf0.1 gets the big corpus so the bench measures parse throughput
  // (and the local synthetic sf1 scaling decade gets 10× that); every
  // other dir uses the verify-sized corpus so the static oracle paths
  // below are correct for ANY SF the driver might verify at (a 2000-row
  // sf0.001 corpus would make q18/q32/q45 false-fail there)
  private[graft] def rowsFor(dir: String): Int =
    if (dir.endsWith("sf0.1")) 200000
    else if (dir.endsWith("sf1")) 2000000
    else 20000

  /** The driver verifies at sf0.01 — the static oracle SQL embeds the
    * staging paths for that corpus size. CouplingSpec pins the law that
    * every SF the driver might verify at maps to exactly this corpus
    * size (only the non-verified bench SF may diverge) — a drifted
    * rowsFor would otherwise false-fail q18/q32/q45/q55 with the engine
    * computing over one corpus and the oracle reading another.
    */
  private[graft] val verifyRows = 20000

  private def stagedDir(rows: Int): String =
    SyntheticElb.dirFor(rows).resolve("_staged").toString
  private def rawLinesPath(rows: Int): String =
    s"${stagedDir(rows)}/raw_lines.parquet"
  private def geoCachePath(rows: Int): String =
    s"${stagedDir(rows)}/geo_cache.parquet"

  /** Stage the corpus's raw lines as parquet for the DuckDB oracle, once
    * per JVM — generated distributed (`spark.range` → `line(i)`), NOT
    * re-read from the `.gz` files, so gz scan + tokenize are both under
    * oracle check.
    */
  private def stageRawLines(s: SparkSession, rows: Int): Unit =
    graft.Staging.once(rawLinesPath(rows)) {
      import s.implicits._
      s.range(rows).map(i => SyntheticElb.line(i.toInt)).toDF("value")
        .coalesce(4).write.mode("overwrite").parquet(rawLinesPath(rows))
    }

  /** Shared featured frame for the ELB queries. Deliberately NOT
    * persisted: each query projects a narrow column subset, and letting
    * Catalyst prune per query is cheaper than materializing the full
    * 45-column frame (measured: persist made q18+q32 ~20% slower — the
    * Pipeline's persist-then-fan-out is right for its four sinks that
    * consume everything; it is wrong here).
    */
  /** Enrich + feature chain over an already-parsed frame — shared by the
    * gz (q18/q32) and staged (q55) paths so the two pipelines the shared
    * oracle proves identical cannot drift apart.
    */
  private def featuredFrom(s: SparkSession, rows: Int, parsed: DataFrame): DataFrame =
    Features(
      GeoCache.enrich(s, parsed, geoCachePath(rows), new OfflineGeoResolver()))

  private def featured(s: SparkSession, dir: String): DataFrame = {
    val rows = rowsFor(dir)
    val corpus = SyntheticElb.dataset(rows)
    stageRawLines(s, rows)
    featuredFrom(s, rows, ElbParser.parse(s, Seq(corpus)))
  }

  /** Full reference pipeline minus sinks: parse → geo enrich (offline
    * resolver, memoized cache) → feature windows. `time` is surfaced as
    * epoch microseconds — both engines floor the same instant identically,
    * sidestepping parquet-timestamp representation mismatches.
    */
  private def pipelineSelect(featured: DataFrame): DataFrame =
    featured.select(
      unix_micros(col("time")).as("time_us"),
      col("client_ip"), col("http_method"), col("hostname"), col("path"),
      col("status_code_type"), col("countryName"), col("city"), col("is_bot"),
      col("session_id"),
      col("rolling_5min_req_count"), col("rolling_1h_avg_proc_time"))

  val q18ElbPipeline: Q = (s, dir) => pipelineSelect(featured(s, dir))

  // —————————————————————————————————————— staged landing-zone variant
  // (the 100 TB ingest shape: narrow one-pass recompression of the
  //  non-splittable gz corpus into splittable zstd parquet, then the
  //  identical pipeline; same oracle as q18, proving the staged path
  //  bit-identical)
  private def zstdPath(rows: Int): String =
    s"${stagedDir(rows)}/landing_zstd.parquet"

  val q55ElbStaged: Q = (s, dir) => {
    val rows = rowsFor(dir)
    val corpus = SyntheticElb.dataset(rows)
    stageRawLines(s, rows)
    graft.Staging.once(zstdPath(rows))(
      graft.elb.Ingest.recompress(s, Seq(corpus), zstdPath(rows)))
    pipelineSelect(
      featuredFrom(s, rows, graft.elb.Ingest.parseStaged(s, zstdPath(rows))))
  }

  // —————————————————————————————————— DataSource V2 scan variant
  // (the same pipeline through `spark.read.format("elb")` — the custom
  //  V2 source whose partition readers tokenize gz lines directly and
  //  prune columns at the reader (ElbSourceSpec). Same oracle as q18:
  //  the source's quoting/null/path semantics sit under the hash gate
  //  end-to-end. No pushdown barrier needed — there is no from_csv to
  //  protect; the reader IS the single evaluation.)
  val q97ElbV2: Q = (s, dir) => {
    val rows = rowsFor(dir)
    val corpus = SyntheticElb.dataset(rows)
    stageRawLines(s, rows)
    pipelineSelect(featuredFrom(s, rows,
      graft.elb.ElbParser.enrich(s.read.format("elb").load(corpus))))
  }

  // ——————————————————————— streaming ingest through the V2 source
  // (q45's rollup with `readStream.format("elb")` instead of the text
  //  source + tokenize: the source's `FileListingStream` plans
  //  file-count offsets over the sorted listing and pins the listing
  //  when the AvailableNow run starts (a restart re-runs an uncommitted
  //  batch, then drains what landed since), its readers emit the
  //  tokenized frame directly, and the SAME q45 oracle gates the
  //  result — the streaming path of the source sits under the hash
  //  check like its batch path does via q97.)
  val q98ElbStreamV2: Q = (s, dir) => {
    val rows = rowsFor(dir)
    val corpus = SyntheticElb.dataset(rows)
    stageRawLines(s, rows)
    val raw = s.readStream.format("elb").load(corpus)
    val enriched = ElbParser.enrich(raw)
      .withColumn("status_code_type", Features.statusCodeType(
        ElbParser.nullSentinelLong(col("elb_status_code")).cast("int")))
    val agg = enriched
      .groupBy(col("status_code_type"), col("http_method"), col("is_bot"))
      .agg(count(lit(1)).as("n"),
        sum(ElbParser.nullSentinelLong(col("sent_bytes"))).as("sum_sent_bytes"))
    graft.streaming.StreamingSessions.drainAvailableNow(s, agg,
      "elb_stream_v2", noDataBatch = false) // Complete mode
  }

  /** The hourly rollup (A1) over the synthetic pipeline output. Group keys
    * widened to long for the oracle compare (DuckDB date parts are BIGINT);
    * the engine's narrow casts stay inside [[Features]].
    */
  val q32ElbHourlyRollup: Q = (s, dir) =>
    Sinks.hourlyAggregation(featured(s, dir))
      .withColumn("request_year", col("request_year").cast("long"))
      .withColumn("request_month", col("request_month").cast("long"))
      .withColumn("request_day", col("request_day").cast("long"))
      .withColumn("request_hour", col("request_hour").cast("long"))

  // —————————————————————————————————————————————————— DuckDB re-derivation
  // One shared CTE chain re-implements tokenize → reject → enrich → geo
  // join → window block in SQL over the staged raw lines. Comparability
  // notes: the synthetic corpus's processing times are exact integer
  // milliseconds after the reference's round(…, 3), so window/group sums
  // and averages are exact in both engines regardless of summation order;
  // `trace_id` (unique per line) breaks same-microsecond ordering ties the
  // same way [[Features]] does.
  /** CTE chain through `enr` (tokenize → reject → scalar enrich) — shared
    * by the batch (q18/q32) and streaming (q45) oracles.
    */
  private def parseSql(lines: String): String = s"""
    WITH raw AS (
      SELECT value AS line FROM read_parquet('$lines/*.parquet')),
    tok AS (
      -- S3: space-separated, double-quote-quoted tokenizer
      SELECT regexp_extract_all(line, '"[^"]*"|[^ ]+') AS t FROM raw),
    fld AS (
      -- P1 positional bind; F1: rows with fewer than 29 tokens rejected
      SELECT
        t[2] AS time_s, t[4] AS client_ip_port,
        t[6] AS rpt_s, t[7] AS tpt_s, t[8] AS rsp_s,
        t[9] AS status_s, t[11] AS received_s, t[12] AS sent_s,
        t[13] AS request_q, t[14] AS ua_q, t[18] AS trace_q
      FROM tok WHERE len(t) >= 29),
    unq AS (
      -- P4 two-format timestamp parse + field unquoting
      SELECT *,
        COALESCE(try_strptime(time_s, '%Y-%m-%dT%H:%M:%S.%fZ'),
                 try_strptime(time_s, '%Y-%m-%dT%H:%M:%SZ')) AS ts,
        CASE WHEN request_q LIKE '"%"' THEN substr(request_q, 2, length(request_q) - 2)
             ELSE request_q END AS request,
        regexp_replace(
          CASE WHEN ua_q LIKE '"%"' THEN substr(ua_q, 2, length(ua_q) - 2)
               ELSE ua_q END, '^"+|"+$$', '', 'g') AS ua,
        CASE WHEN trace_q LIKE '"%"' THEN substr(trace_q, 2, length(trace_q) - 2)
             ELSE trace_q END AS trace_id
      FROM fld),
    prs AS (
      -- F2 bad-timestamp rejection; P2/P3 sentinel casts; P5 IP; P6 latency
      SELECT *,
        split_part(client_ip_port, ':', 1) AS client_ip,
        string_split(request, ' ') AS req,
        try_cast(nullif(status_s, '-') AS BIGINT) AS status_code,
        try_cast(nullif(received_s, '-') AS BIGINT) AS received_bytes,
        try_cast(nullif(sent_s, '-') AS BIGINT) AS sent_bytes,
        CAST(round((try_cast(nullif(rpt_s, '-') AS DOUBLE)
                  + try_cast(nullif(tpt_s, '-') AS DOUBLE)
                  + try_cast(nullif(rsp_s, '-') AS DOUBLE)) * 1000, 3) AS REAL)
          AS total_ms
      FROM unq WHERE ts IS NOT NULL),
    enr AS (
      -- P7 request split, P8 URL parts, P11 status bucket, P10 bot; F4
      SELECT *,
        CASE WHEN len(req) >= 3 THEN req[1] ELSE 'Unknown' END AS http_method,
        CASE WHEN len(req) >= 3
             THEN lower(nullif(regexp_extract(req[2],
               '^[^:/?#]+://(?:[^/?#]*@)?([^/:?#]+)', 1), '')) END AS hostname,
        CASE WHEN len(req) >= 3
             THEN regexp_extract(req[2], '^[^:/?#]+://[^/?#]*(/[^?#]*)', 1)
             END AS path,
        CASE WHEN status_code BETWEEN 100 AND 199 THEN '1xx_Informational'
             WHEN status_code BETWEEN 200 AND 299 THEN '2xx_Success'
             WHEN status_code BETWEEN 300 AND 399 THEN '3xx_Redirection'
             WHEN status_code BETWEEN 400 AND 499 THEN '4xx_ClientError'
             WHEN status_code BETWEEN 500 AND 599 THEN '5xx_ServerError'
             ELSE 'Unknown' END AS status_code_type,
        CASE WHEN ua IS NULL OR ua = '' OR ua = '-' THEN false
             ELSE regexp_matches(ua, '(?i)bot|spider|crawler|python-urllib')
             END AS is_bot
      FROM prs WHERE client_ip IS NOT NULL)"""

  /** Geo join + window block CTEs appended to [[parseSql]] for q18/q32. */
  private def derivationSql(lines: String, geo: String): String =
    parseSql(lines) + s""",
    geo AS (
      SELECT query, country, city FROM read_parquet('$geo/*.parquet')),
    jnd AS (
      -- J1: left join on client_ip + the country -> countryName rename
      SELECT e.*, g.country AS "countryName", g.city
      FROM enr e LEFT JOIN geo g ON e.client_ip = g.query),
    win AS (
      -- W1: per-client lag over (ts, trace_id)
      SELECT *,
        epoch_us(ts) AS time_us,
        lag(epoch_us(ts)) OVER
          (PARTITION BY client_ip ORDER BY epoch_us(ts), trace_id) AS prev_us
      FROM jnd),
    sess AS (
      -- W2 gap>30min sessionization; W3/W4 half-open rolling frames
      SELECT *,
        CAST(sum(CASE WHEN prev_us IS NULL
                        OR (time_us - prev_us) / 60000000.0 > 30
                      THEN 1 ELSE 0 END)
          OVER (PARTITION BY client_ip ORDER BY time_us, trace_id
                ROWS UNBOUNDED PRECEDING) AS INT) AS session_no,
        count(request) OVER (PARTITION BY client_ip ORDER BY time_us
          RANGE BETWEEN 299999999 PRECEDING AND CURRENT ROW)
          AS rolling_5min_req_count,
        avg(CAST(total_ms AS DOUBLE)) OVER
          (PARTITION BY client_ip ORDER BY time_us
           RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
          AS rolling_1h_avg_proc_time
      FROM win)"""

  private def q18Sql: String =
    derivationSql(rawLinesPath(verifyRows), geoCachePath(verifyRows)) + s"""
    SELECT time_us, client_ip, http_method, hostname, path, status_code_type,
      "countryName", city, is_bot,
      CAST(session_no AS VARCHAR) || '-' || client_ip AS session_id,
      rolling_5min_req_count, rolling_1h_avg_proc_time
    FROM sess"""

  private def q32Sql: String =
    derivationSql(rawLinesPath(verifyRows), geoCachePath(verifyRows)) + s""",
    loc AS (
      -- P12: Eastern-local time parts (naive UTC -> tz-aware -> NY local)
      SELECT *, timezone('America/New_York', timezone('UTC', ts)) AS lts
      FROM jnd WHERE "countryName" IS NOT NULL AND city IS NOT NULL)
    SELECT
      CAST(year(lts) AS BIGINT) AS request_year,
      CAST(month(lts) AS BIGINT) AS request_month,
      CAST(day(lts) AS BIGINT) AS request_day,
      CAST(hour(lts) AS BIGINT) AS request_hour,
      "countryName", city,
      count(client_ip) AS request_count,
      count(DISTINCT client_ip) AS unique_client_ips_count,
      avg(CAST(total_ms AS DOUBLE)) AS average_total_processing_time,
      median(CAST(total_ms AS DOUBLE)) AS median_total_processing_time,
      CAST(sum(sent_bytes) AS BIGINT) AS sum_sent_bytes,
      CAST(sum(received_bytes) AS BIGINT) AS sum_received_bytes,
      CAST(sum(CASE WHEN status_code_type = '2xx_Success' THEN 1 ELSE 0 END)
        AS BIGINT) AS count_2xx,
      CAST(sum(CASE WHEN status_code_type = '4xx_ClientError' THEN 1 ELSE 0 END)
        AS BIGINT) AS count_4xx,
      CAST(sum(CASE WHEN status_code_type = '5xx_ServerError' THEN 1 ELSE 0 END)
        AS BIGINT) AS count_5xx
    FROM loc GROUP BY 1, 2, 3, 4, 5, 6"""

  // —————————————————————————————————————————————— streaming ELB ingest
  // The SAME tokenize+enrich projection runs unchanged as a Structured
  // Stream over the gz corpus (all narrow ops — streaming-safe), proving
  // the parse path is batch/stream agnostic. Drained AvailableNow into a
  // grouped aggregate; the oracle re-derives it from the staged lines.
  // The sink table name can be FIXED: drainAvailableNow snapshots and
  // drops the memory table per invocation, so repeated runs in one JVM
  // no longer accumulate registered tables.

  val q45ElbStream: Q = (s, dir) => {
    val rows = rowsFor(dir)
    val corpus = SyntheticElb.dataset(rows)
    stageRawLines(s, rows)
    val raw = s.readStream.text(corpus)
      .withColumn("log_source_file", input_file_name())
    val enriched = ElbParser.enrich(ElbParser.tokenize(raw))
      .withColumn("status_code_type", Features.statusCodeType(
        ElbParser.nullSentinelLong(col("elb_status_code")).cast("int")))
    val agg = enriched
      .groupBy(col("status_code_type"), col("http_method"), col("is_bot"))
      .agg(count(lit(1)).as("n"),
        sum(ElbParser.nullSentinelLong(col("sent_bytes"))).as("sum_sent_bytes"))
    graft.streaming.StreamingSessions.drainAvailableNow(s, agg,
      "elb_stream", noDataBatch = false) // Complete mode
  }

  private def q45Sql: String = parseSql(rawLinesPath(verifyRows)) + s"""
    SELECT status_code_type, http_method, is_bot,
      count(*) AS n,
      CAST(sum(sent_bytes) AS BIGINT) AS sum_sent_bytes
    FROM enr GROUP BY 1, 2, 3"""

  val all: Map[String, Q] = Map(
    "q18_elb_pipeline" -> q18ElbPipeline,
    "q32_elb_hourly_rollup" -> q32ElbHourlyRollup,
    "q45_elb_stream" -> q45ElbStream,
    "q55_elb_staged" -> q55ElbStaged,
    "q97_elb_v2" -> q97ElbV2,
    "q98_elb_stream_v2" -> q98ElbStreamV2)

  val oracles: Map[String, String] = Map(
    "q18_elb_pipeline" -> q18Sql,
    "q32_elb_hourly_rollup" -> q32Sql,
    "q45_elb_stream" -> q45Sql,
    "q55_elb_staged" -> q18Sql,
    "q97_elb_v2" -> q18Sql,
    "q98_elb_stream_v2" -> q45Sql)
}
