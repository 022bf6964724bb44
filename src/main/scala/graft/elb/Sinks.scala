package graft.elb

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** The four output sinks (reference: advanced_elb_logs_etl.py:326-393).
  *
  * Exact-semantics notes (SURVEY.md §7.4):
  *  - partition dirs are zero-padded (`month=05`) → partition on
  *    pre-formatted *string* columns, matching the reference's f-strings
  *    (advanced_elb_logs_etl.py:333-334);
  *  - pandas groupby drops null-keyed groups, so rows without a
  *    countryCode are absent from the cleaned output (the reference's
  *    'UNK' branch is dead code) — reproduced with an explicit filter;
  *  - `time` is serialized as an Eastern local string with offset
  *    (`%Y-%m-%d %H:%M:%S%z`) on every sink;
  *  - the reference's per-partition all-null column drop is a documented
  *    deviation (plan schemas are fixed; all-null and absent columns read
  *    identically under parquet schema merge).
  */
object Sinks {

  /** Eastern local render with RFC-822 offset, matching strftime `%z`.
    *
    * `date_format(..., "Z")` renders the *session* zone's offset (UTC here),
    * not the shifted zone's, so the offset is computed explicitly from the
    * wall-clock delta that `from_utc_timestamp` applied — DST-correct via
    * the zone rules, e.g. `-0400` in summer, `-0500` in winter.
    */
  def timeString(c: Column): Column = {
    val local = from_utc_timestamp(c, ElbSchema.localZone)
    val offMin = ((unix_millis(local) - unix_millis(c)) / lit(60000L)).cast("int")
    concat(
      date_format(local, "yyyy-MM-dd HH:mm:ss"),
      format_string("%+03d%02d", (offMin / 60).cast("int"), abs(offMin % 60).cast("int")))
  }

  /** K1: cleaned logs partitioned by year/month/day/countryCode.
    *
    * The repartition on the partition keys routes each output directory's
    * rows to ONE task, so every dir holds one parquet file instead of
    * one-per-shuffle-partition (measured: 960 → ~#dirs files on the 200k
    * corpus). Without it, a 100 TB run with thousands of reducers sprays
    * every dir with thousands of small files — the small-file problem at
    * the sink.
    */
  def writeCleanedLogs(df: DataFrame, outDir: String): Unit = {
    val staged = df.filter(col("countryCode").isNotNull)
      .withColumn("time", timeString(col("time")))
      .withColumn("year", col("request_year").cast("string"))
      .withColumn("month", format_string("%02d", col("request_month")))
      .withColumn("day", format_string("%02d", col("request_day")))
    staged.repartition(col("year"), col("month"), col("day"), col("countryCode"))
      .write.partitionBy("year", "month", "day", "countryCode")
      .mode("overwrite").parquet(s"$outDir/cleaned_logs")
  }

  /** A1 + K2: hourly traffic rollup by geo, bit-for-bit the reference's
    * (exact distinct count + exact median).
    *
    * The distinct count is the size of the group's `collect_set`, not a
    * `countDistinct`: Spark plans a distinct count as two aggregate pairs
    * (the second keyed by client_ip too) over two shuffles, each pair with
    * its own generated classes; the set keeps the rollup one object-hash
    * aggregate pair over one shuffle. `median` already buffers every
    * value of a group, so holding its distinct IPs does not change the
    * rollup's memory shape.
    */
  def hourlyAggregation(df: DataFrame): DataFrame =
    df.filter(col("countryName").isNotNull && col("city").isNotNull)
      .groupBy(col("request_year"), col("request_month"), col("request_day"),
        col("request_hour"), col("countryName"), col("city"))
      .agg(
        count(col("client_ip")).as("request_count"),
        size(collect_set(col("client_ip"))).cast("bigint").as("unique_client_ips_count"),
        avg(col("total_processing_time_ms")).as("average_total_processing_time"),
        median(col("total_processing_time_ms")).as("median_total_processing_time"),
        sum(col("sent_bytes")).as("sum_sent_bytes"),
        sum(col("received_bytes")).as("sum_received_bytes"),
        count_if(col("status_code_type") === "2xx_Success").as("count_2xx"),
        count_if(col("status_code_type") === "4xx_ClientError").as("count_4xx"),
        count_if(col("status_code_type") === "5xx_ServerError").as("count_5xx"))

  def writeHourlyAggregation(df: DataFrame, outDir: String): Unit =
    hourlyAggregation(df).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/aggregated_stats/hourly_traffic_by_geo.parquet")

  /** F5 + K3: 4xx/5xx error rows, selected columns, CSV with header. */
  def errorReport(df: DataFrame): DataFrame =
    df.filter(col("status_code_type").isin("4xx_ClientError", "5xx_ServerError"))
      .withColumn("time", timeString(col("time")))
      .select("time", "client_ip", "city", "countryName", "isp", "http_method",
        "full_url", "elb_status_code", "target_status_code_list", "user_agent",
        "ua_browser_family", "ua_os_family", "error_reason")

  def writeErrorReport(df: DataFrame, outDir: String): Unit =
    errorReport(df).coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/reports/error_summary_geo.csv")

  /** F6 + K2/K3 + A2: bot detail parquet + per-origin summary CSV. */
  def botAggregation(bots: DataFrame): DataFrame =
    bots.filter(col("countryName").isNotNull && col("isp").isNotNull)
      .groupBy(col("countryName"), col("isp"))
      .agg(count(lit(1)).as("bot_request_count"))

  def writeBotReports(df: DataFrame, outDir: String): Unit = {
    val bots = df.filter(col("is_bot"))
      .withColumn("time", timeString(col("time")))
    bots.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/reports/bot_traffic_details.parquet")
    botAggregation(bots).coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .csv(s"$outDir/reports/bot_traffic_by_origin_summary.csv")
  }

  /** K4: first-N sample as JSON lines (driver-side, for logging).
    *
    * `to_json` over a struct of every column renders the same strings as
    * `toJSON`, and its plan ends in a collect-limit outside generated code.
    * `toJSON` puts the limit inside generated code, whose variable names
    * carry a JVM-wide counter, so every call would compile its stages
    * anew whatever the codegen cache holds.
    */
  def sampleJson(df: DataFrame, n: Int = 5): Seq[String] =
    df.limit(n).select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq
}
