package graft.elb

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.functions.UaFunctions

/** Scan + tokenize + parse/enrich for ALB access logs.
  *
  * Reference behavior being re-expressed (not ported):
  *  - gzip line reader + shlex tokenizer + 29-name positional bind
  *    (reference: advanced_elb_logs_etl.py:77-82, 158-166)
  *  - short-row and bad-timestamp rejection (advanced_elb_logs_etl.py:80-81, 95-97)
  *  - 14 derived enrichment columns (advanced_elb_logs_etl.py:133-149)
  *
  * Spark-first design: one declarative scan → `from_csv` tokenize → a single
  * `select` holding every derived expression, so Catalyst sees one
  * codegen-friendly projection and the malformed-row policy is ordinary
  * filters instead of exception control flow. `.gz` inputs are handled by
  * the codec layer (non-splittable: one file = one partition, the same
  * parallelism unit as the reference's per-file loop — at 100 TB prefer a
  * zstd/uncompressed landing zone or a recompression pass; see ARCHITECTURE).
  */
object ElbParser {

  /** Accepted timestamp layouts (reference: advanced_elb_logs_etl.py:87). */
  private val tsFormats = Seq("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'", "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Instant parse: try each accepted layout, null if none match. */
  def parseTime(c: Column): Column =
    coalesce(tsFormats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** Read raw log lines (gzip transparent); keeps the originating file path
    * — `input_file_name()` replaces the reference's hand-threaded
    * `log_source_file` (advanced_elb_logs_etl.py:148, 164).
    */
  def readRaw(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*)
      .withColumn("log_source_file", input_file_name())

  /** CSV parser options of the one ELB line tokenizer, shared by `tokenize`
    * and the `elb` DataSource V2 reader. Space-separated, double-quote
    * quoted — the CSV reader reproduces the shlex quoting rules used by the
    * reference. nullValue is an impossible token: the CSV reader's default
    * ("") would null a legitimately empty quoted 29th field and reject a row
    * the reference's shlex parser keeps — with the sentinel, a null
    * classification_reason means exactly "fewer than 29 tokens" (F1).
    */
  val csvOptions: Map[String, String] = Map("sep" -> " ", "quote" -> "\"",
    "escape" -> "\\", "mode" -> "PERMISSIVE", "nullValue" -> "\u0000")

  /** Tokenize a `value` line column into the 29 raw fields with
    * [[csvOptions]]. Rows with fewer than 29 tokens leave the tail columns
    * null and are rejected downstream (F1).
    */
  def tokenize(raw: DataFrame, barrier: Boolean = false): DataFrame = {
    val parsed = raw.withColumn("_r", from_csv(col("value"), ElbSchema.raw, csvOptions))
    if (barrier)
      // pushdown barrier (batch only — monotonically_increasing_id is
      // disallowed in streaming): the marker is non-deterministic and the
      // rejection filter in `enrich` references it, so Catalyst can
      // neither push the filter below this projection (which would
      // re-inline from_csv into the pushed condition) nor prune the
      // marker away
      parsed.withColumn("_once", monotonically_increasing_id())
        .select(col("_r.*"), col("log_source_file"), col("_once"))
    else parsed.select(col("_r.*"), col("log_source_file"))
  }

  /** Full parse: scan → tokenize → reject → enrich. Output: the 29 raw
    * columns (with `time` refined to a UTC timestamp) + 14 derived columns.
    */
  def parse(spark: SparkSession, paths: Seq[String]): DataFrame =
    enrich(tokenize(readRaw(spark, paths), barrier = true))

  /** The single enrichment projection (P2-P18) + rejection filters (F1, F2). */
  def enrich(tok: DataFrame): DataFrame = {
    val ts = parseTime(col("time"))

    // latency: null if ANY component is null (Spark's + null-propagates)
    val rpt = nullSentinelDouble(col("request_processing_time"))
    val tpt = nullSentinelDouble(col("target_processing_time"))
    val rsp = nullSentinelDouble(col("response_processing_time"))
    val totalMs = round((rpt + tpt + rsp) * 1000, 3)

    // request line: "METHOD url HTTP/x" — needs >= 3 tokens, else Unknown
    val req = split(col("request"), " ", 3)
    val reqOk = size(req) === 3
    val fullUrl = when(reqOk, req(1)).otherwise(lit(""))
    val port = nullif(
      regexp_extract(fullUrl, "^[^:/?#]+://[^/?#]*?:(\\d+)(?:[/?#]|$)", 1),
      lit("")).try_cast("int")

    // with a barrier marker present, the rejection filter references it so
    // the non-deterministic projection below pins the filter in place —
    // from_csv then evaluates exactly once, in that projection. The
    // conjunct must be one the optimizer cannot fold away: isNotNull on
    // the non-nullable marker folds to TRUE (dropping the reference and
    // dissolving the barrier), while `>= 0` — always true for
    // monotonically_increasing_id — survives as a live reference.
    val reject = col("classification_reason").isNotNull && ts.isNotNull
    val keep = if (tok.columns.contains("_once"))
      reject && col("_once") >= 0 else reject
    tok
      // F1: short rows leave the 29th column null; F2: unparseable timestamp
      .filter(keep)
      .drop("_once")
      .withColumn("time", ts)
      // one UaClassify per row: CollapseProject keeps a costly triple-use apart
      .withColumn("_ua", UaFunctions.uaClassify(col("user_agent")))
      .withColumns(Map(
        "client_ip" -> substring_index(col("client_ip_port"), ":", 1),
        "http_method" -> when(reqOk, req(0)).otherwise(lit("Unknown")),
        "full_url" -> fullUrl,
        "http_version" -> when(reqOk, req(2)).otherwise(lit("")),
        "protocol" -> when(reqOk, coalesce(lower(parse_url(fullUrl, lit("PROTOCOL"))), lit(""))),
        "hostname" -> when(reqOk, lower(parse_url(fullUrl, lit("HOST")))),
        "port" -> when(reqOk, port),
        "path" -> when(reqOk, coalesce(parse_url(fullUrl, lit("PATH")), lit(""))),
        "query_params" -> when(reqOk, coalesce(parse_url(fullUrl, lit("QUERY")), lit(""))),
        "total_processing_time_ms" -> totalMs,
        "ua_browser_family" -> col("_ua.browser"),
        "ua_os_family" -> col("_ua.os"),
        "is_bot" -> col("_ua.bot")
      ))
      .drop("_ua")
  }

  /** '-'/''/unparseable → null, else double (reference: to_float,
    * advanced_elb_logs_etl.py:58-62). `try_cast` already nulls garbage;
    * `nullif` handles the '-' sentinel.
    */
  def nullSentinelDouble(c: Column): Column =
    nullif(c, lit("-")).try_cast("double")

  /** '-'/''/unparseable → null, else integer (reference: to_int,
    * advanced_elb_logs_etl.py:52-56).
    */
  def nullSentinelLong(c: Column): Column =
    nullif(c, lit("-")).try_cast("long")
}
