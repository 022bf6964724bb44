package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SyntheticWarc

/** WARC/WET container-source queries (round 13): the
  * [[graft.sources.WarcDataSource]] container walk, header parse, payload
  * handling, type pushdown, and streaming offsets all sit under the
  * rows+schema+hash gate. The oracle side reads the SAME logical records
  * from a parquet staging table generated distributed from
  * [[SyntheticWarc.record]] — NOT re-read from the containers — so the
  * container encode→walk round-trip is exactly what the hash check
  * proves (the q18/q97 stageRawLines discipline).
  */
object WarcQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Same SF→size law as the ELB corpus: the driver verifies at sf0.01
    * against static oracle SQL embedding the verify-size staging path;
    * only the bench SFs diverge (sf0.1 10×, local sf1 decade 100×).
    */
  private[graft] def rowsFor(dir: String): Int =
    if (dir.endsWith("sf0.1")) 200000
    else if (dir.endsWith("sf1")) 2000000
    else 20000
  private[graft] val verifyRows = 20000

  private def stagedPath(n: Int): String =
    SyntheticWarc.dirFor(n).resolve("_staged").resolve("records.parquet").toString

  /** Stage the corpus's logical records as parquet for the DuckDB side,
    * once per JVM — generated distributed (`spark.range` → `record(i)`),
    * never re-read from the `.warc.gz` containers.
    */
  private def stage(s: SparkSession, n: Int): Unit =
    graft.Staging.once(stagedPath(n)) {
      import s.implicits._
      s.range(n).map(i => SyntheticWarc.record(i))
        .select(col("i"), col("warcType").as("warc_type"),
          col("recordId").as("record_id"), col("targetUri").as("target_uri"),
          col("dateMs").as("date_ms"), col("contentType").as("content_type"),
          col("payloadText").as("payload_text"))
        .coalesce(4).write.mode("overwrite").parquet(stagedPath(n))
    }

  private def scan(s: SparkSession, dir: String): DataFrame = {
    val n = rowsFor(dir)
    val glob = SyntheticWarc.dataset(n)
    stage(s, n)
    s.read.format("warc").load(glob)
  }

  // ————————————————————————————— WET extracted-text scan (q359)
  // (the entry point of a crawl→corpus build: conversion records only —
  //  the warc_type equality pushes down, so request/response/metadata
  //  payloads are skipped, never allocated — with the text fingerprint,
  //  byte length, host, and event-time surfaced for the downstream
  //  dedup/quality pipeline. Record-level output = maximal hash surface
  //  over the walk: every header field and every payload byte counts.)
  val q359WarcWet: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("warc_type") === "conversion")
      .select(col("record_id"), col("target_uri"),
        regexp_extract(col("target_uri"), "://([^/?#]+)", 1).as("host"),
        unix_millis(col("warc_date")).as("date_ms"),
        col("content_length"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("fp"))
  private val q359Sql: String = s"""
    SELECT record_id, target_uri,
      regexp_extract(target_uri, '://([^/?#]+)', 1) AS host,
      date_ms,
      CAST(length(payload_text) AS BIGINT) AS content_length,
      CAST(length(payload_text) AS BIGINT) AS n_bytes,
      md5(payload_text) AS fp
    FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
    WHERE warc_type = 'conversion'"""

  // ————————————————————————————— HTTP response dissection (q360)
  // (WARC `response` records carry the raw HTTP exchange: status line,
  //  headers, body after the first CRLFCRLF. Dissection is string math
  //  shared verbatim with the oracle — strpos/locate for the header
  //  boundary, anchored regexes that always match the synthetic
  //  corpus — so no engine's regex dialect quirks are in play.)
  val q360WarcHttp: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("warc_type") === "response")
      .select(col("record_id"),
        decode(col("payload"), "UTF-8").as("t"))
      .select(col("record_id"),
        regexp_extract(col("t"), "^HTTP/1\\.1 (\\d+)", 1).as("status"),
        regexp_extract(col("t"), "Content-Type: ([^\r\n]+)", 1).as("http_content_type"),
        regexp_extract(col("t"), "<title>([^<]*)</title>", 1).as("title"),
        (length(col("t")) - locate("\r\n\r\n", col("t")) - lit(3))
          .cast("long").as("body_chars"))
  private val q360Sql: String = s"""
    SELECT record_id,
      regexp_extract(payload_text, 'HTTP/1\\.1 (\\d+)', 1) AS status,
      regexp_extract(payload_text, 'Content-Type: ([^\r\n]+)', 1) AS http_content_type,
      regexp_extract(payload_text, '<title>([^<]*)</title>', 1) AS title,
      CAST(length(payload_text)
        - strpos(payload_text, chr(13)||chr(10)||chr(13)||chr(10)) - 3
        AS BIGINT) AS body_chars
    FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
    WHERE warc_type = 'response'"""

  // ————————————————————————————— record-type inventory (q361)
  // (header-only scan: payload is pruned OUT of the projection, so the
  //  reader skips every payload byte — the shape of a 100 TB crawl
  //  audit. The isin pushes down as In; warcinfo records exist only in
  //  the containers (one per file, not staged), so the In filter is
  //  also what keeps engine and oracle over the same record set.)
  val q361WarcTypes: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("warc_type")
        .isin("conversion", "request", "response", "metadata"))
      .groupBy("warc_type")
      .agg(count(lit(1)).as("n"),
        sum("content_length").as("bytes"),
        countDistinct("target_uri").as("n_uri"))
  private val q361Sql: String = s"""
    SELECT warc_type, count(*) AS n,
      CAST(sum(length(payload_text)) AS BIGINT) AS bytes,
      count(DISTINCT target_uri) AS n_uri
    FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
    WHERE warc_type IN ('conversion', 'request', 'response', 'metadata')
    GROUP BY 1"""

  // ————————————————————————————— streaming container ingest (q362)
  // (the same source through `readStream.format("warc")`: the shared
  //  `FileListingStream`'s file-count offsets over the sorted container
  //  listing, drained AvailableNow up to the listing pinned at run start
  //  into a per-host rollup — the q98 pattern; the batch oracle equals
  //  the drain because the aggregation is order-free.)
  private val streamCounter = new java.util.concurrent.atomic.AtomicLong()
  val q362WarcStream: Q = (s, dir) => {
    val n = rowsFor(dir)
    val glob = SyntheticWarc.dataset(n)
    stage(s, n)
    val agg = s.readStream.format("warc").load(glob)
      .where(col("ok") && col("warc_type") === "conversion")
      .groupBy(regexp_extract(col("target_uri"), "://([^/?#]+)", 1).as("host"))
      .agg(count(lit(1)).as("n"), sum("content_length").as("bytes"))
    graft.streaming.StreamingSessions.drainAvailableNow(s, agg,
      s"warc_stream_${streamCounter.incrementAndGet()}",
      noDataBatch = false) // Complete-mode aggregate: teardown-only batch
  }
  private val q362Sql: String = s"""
    SELECT regexp_extract(target_uri, '://([^/?#]+)', 1) AS host,
      count(*) AS n,
      CAST(sum(length(payload_text)) AS BIGINT) AS bytes
    FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
    WHERE warc_type = 'conversion'
    GROUP BY 1"""

  // ————————————————————————————— URL canonicalization (q365)
  // (the crawl-curation normalize step: lowercase host, drop the
  //  default :443, strip tracking params (utm_*/fbclid/gclid), SORT
  //  the surviving params — then count how many raw URL variants each
  //  canonical URL had. The algebra is shared verbatim with the oracle
  //  (same regexes, same filter, same lexicographic sort), so the gate
  //  is on the engine's split/filter/sort_array/join pipeline, not on
  //  a URL-library behavior the oracle can't replay.)
  val q365UrlNormalize: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("target_uri").isNotNull)
      .select(col("target_uri").as("u"))
      .select(col("u"),
        lower(regexp_extract(col("u"), "://([^/?#]+)", 1)).as("hostport"),
        regexp_extract(col("u"), "://[^/?#]+([^?#]*)", 1).as("path"),
        regexp_extract(col("u"), "\\?(.*)$", 1).as("q"))
      .select(col("u"),
        regexp_replace(col("hostport"), ":443$", "").as("host"), col("path"),
        filter(split(col("q"), "&"), x =>
          !(x.startsWith("utm_") || x.startsWith("fbclid=") ||
            x.startsWith("gclid=") || x === "")).as("params"))
      .select(col("u"), concat(lit("https://"), col("host"), col("path"),
        when(size(col("params")) > 0,
          concat(lit("?"), array_join(array_sort(col("params")), "&")))
          .otherwise(lit(""))).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n"), countDistinct("u").as("n_raw"))
  private val q365Sql: String = s"""
    WITH r AS (SELECT target_uri AS u
               FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
               WHERE target_uri IS NOT NULL),
    p AS (SELECT u,
        lower(coalesce(regexp_extract(u, '://([^/?#]+)', 1), '')) AS hostport,
        coalesce(regexp_extract(u, '://[^/?#]+([^?#]*)', 1), '') AS path,
        coalesce(regexp_extract(u, '\\?(.*)$$', 1), '') AS q
      FROM r),
    c AS (SELECT u, regexp_replace(hostport, ':443$$', '') AS host, path,
        -- array_to_string([]) is NULL in DuckDB where Spark's
        -- array_join([]) is '' — coalesce pins the no-params case
        coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
          x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=')
                    OR starts_with(x, 'gclid=') OR x = ''))), '&'), '') AS ps
      FROM p)
    SELECT 'https://' || host || path ||
      CASE WHEN ps = '' THEN '' ELSE '?' || ps END AS canon_url,
      count(*) AS n, count(DISTINCT u) AS n_raw
    FROM c GROUP BY 1"""

  // ————————————————————————————— host-level link graph (q366)
  // (anchor-href extraction from response HTML → normalized host-level
  //  edge list with multiplicities: the web-graph build that feeds
  //  PageRank-style curation (q197's engine applies downstream). Both
  //  sides run the identical regexp_extract_all.)
  val q366LinkGraph: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("warc_type") === "response")
      .select(
        regexp_replace(lower(regexp_extract(col("target_uri"),
          "://([^/?#]+)", 1)), ":443$", "").as("src"),
        decode(col("payload"), "UTF-8").as("t"))
      .select(col("src"), explode(expr(
        "regexp_extract_all(t, 'href=\"https://([^/\"]+)', 1)")).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n"))
  private val q366Sql: String = s"""
    WITH resp AS (SELECT
        regexp_replace(lower(coalesce(regexp_extract(target_uri,
          '://([^/?#]+)', 1), '')), ':443$$', '') AS src,
        payload_text AS t
      FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
      WHERE warc_type = 'response'),
    e AS (SELECT src, unnest(regexp_extract_all(t,
            'href="https://([^/"]+)', 1)) AS dst FROM resp)
    SELECT src, dst, count(*) AS n FROM e GROUP BY 1, 2"""

  // ————————————————————————————— anchor-text aggregation (q370)
  // (the training-signal complement to q366's edge list: anchor TEXT
  //  describes the page it points to — search engines and corpus
  //  builders aggregate it per target as a quality/topic label. Whole
  //  <a …>text</a> elements extract first, then host and text dissect
  //  per element; per target host: link count, distinct anchors, and
  //  the modal anchor (count-desc, text-asc pinned). Both sides run
  //  the identical regexes; the modal pick is an id-pinned window.)
  val q370AnchorText: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("warc_type") === "response")
      .select(decode(col("payload"), "UTF-8").as("t"))
      .select(explode(expr(
        """regexp_extract_all(t, '(<a href="https://[^"]+"[^>]*>[^<]*</a>)', 1)"""))
        .as("a"))
      .select(
        regexp_replace(lower(regexp_extract(col("a"),
          "href=\"https://([^/\"]+)", 1)), ":443$", "").as("dst"),
        regexp_extract(col("a"), ">([^<]*)</a>", 1).as("anchor"))
      .groupBy("dst", "anchor").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("dst")
          .orderBy(col("n").desc, col("anchor"))))
      .groupBy("dst")
      .agg(sum("n").as("n_links"),
        count(lit(1)).as("n_anchors"),
        max(when(col("rn") === 1, col("anchor"))).as("top_anchor"),
        max(when(col("rn") === 1, col("n"))).as("top_n"))
  private val q370Sql: String = s"""
    WITH resp AS (SELECT payload_text AS t
        FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
        WHERE warc_type = 'response'),
    el AS (SELECT unnest(regexp_extract_all(t,
            '(<a href="https://[^"]+"[^>]*>[^<]*</a>)', 1)) AS a FROM resp),
    pa AS (SELECT
        regexp_replace(lower(coalesce(regexp_extract(a,
          'href="https://([^/"]+)', 1), '')), ':443$$', '') AS dst,
        coalesce(regexp_extract(a, '>([^<]*)</a>', 1), '') AS anchor
      FROM el),
    g AS (SELECT dst, anchor, count(*) AS n FROM pa GROUP BY 1, 2),
    r AS (SELECT dst, anchor, n, row_number() OVER
            (PARTITION BY dst ORDER BY n DESC, anchor) AS rn FROM g)
    SELECT dst, CAST(sum(n) AS BIGINT) AS n_links,
      count(*) AS n_anchors,
      max(CASE WHEN rn = 1 THEN anchor END) AS top_anchor,
      max(CASE WHEN rn = 1 THEN n END) AS top_n
    FROM r GROUP BY 1"""

  // ————————————————————————————— crawl → corpus E2E build (q367)
  // (the whole entry pipeline in ONE oracle-checked plan: container
  //  walk → conversion text → quality gate (length + token floor) →
  //  exact dedup keep-first → deterministic md5 train/val split →
  //  per-split doc/token accounting. Each stage exists standalone
  //  elsewhere; this pins their composition, the q72 discipline applied
  //  to the WARC entry path.)
  val q367WarcCorpusBuild: Q = (s, dir) =>
    scan(s, dir)
      .where(col("ok") && col("warc_type") === "conversion")
      .select(col("record_id"), decode(col("payload"), "UTF-8").as("text"))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_tok", size(split(col("text"), " ")))
      .where(col("n_chars") >= 60 && col("n_tok") >= 12)
      .withColumn("fp", md5(col("text")))
      .groupBy("fp") // identical text ⇒ identical n_tok, min is exact
      .agg(min("record_id").as("record_id"), min("n_tok").as("n_tok"))
      .withColumn("split",
        when(graft.functions.HashExpressions.md5Prefix64(concat(lit("split|"), col("record_id")), 8) % 100 < 90, "train").otherwise("val"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
  private val q367Sql: String = s"""
    WITH conv AS (SELECT record_id, payload_text AS text
        FROM read_parquet('${stagedPath(verifyRows)}/*.parquet')
        WHERE warc_type = 'conversion'),
    q AS (SELECT record_id, text,
        len(string_split(text, ' ')) AS n_tok
      FROM conv WHERE length(text) >= 60
        AND len(string_split(text, ' ')) >= 12),
    ded AS (SELECT min(record_id) AS record_id, min(n_tok) AS n_tok
      FROM q GROUP BY md5(text)),
    sp AS (SELECT record_id, n_tok,
        CASE WHEN CAST(('0x' || substr(md5('split|' || record_id), 1, 8)) AS BIGINT)
             % 100 < 90 THEN 'train' ELSE 'val' END AS split
      FROM ded)
    SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM sp GROUP BY 1"""

  val all: Map[String, Q] = Map(
    "q359_warc_wet" -> q359WarcWet,
    "q360_warc_http" -> q360WarcHttp,
    "q361_warc_types" -> q361WarcTypes,
    "q362_warc_stream" -> q362WarcStream,
    "q365_url_normalize" -> q365UrlNormalize,
    "q366_link_graph" -> q366LinkGraph,
    "q367_warc_corpus_build" -> q367WarcCorpusBuild,
    "q370_anchor_text" -> q370AnchorText)

  val oracles: Map[String, String] = Map(
    "q359_warc_wet" -> q359Sql,
    "q360_warc_http" -> q360Sql,
    "q361_warc_types" -> q361Sql,
    "q362_warc_stream" -> q362Sql,
    "q365_url_normalize" -> q365Sql,
    "q366_link_graph" -> q366Sql,
    "q367_warc_corpus_build" -> q367Sql,
    "q370_anchor_text" -> q370Sql)
}
