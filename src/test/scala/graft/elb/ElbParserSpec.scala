package graft.elb

import graft.SparkSpec
import org.apache.spark.sql.Row
import java.sql.Timestamp

class ElbParserSpec extends SparkSpec {

  lazy val parsed = {
    val path = ElbFixtures.standardFixture()
    ElbParser.parse(spark, Seq(path)).cache()
  }

  def rowFor(ip: String): Row =
    parsed.filter(parsed("client_ip") === ip).collect().head

  test("golden line parses with the reference-asserted fields") {
    val r = rowFor("3.135.238.214")
    assert(r.getAs[String]("http_method") == "POST")
    assert(r.getAs[String]("hostname") == "beta.erank.com")
    assert(r.getAs[String]("protocol") == "https")
    assert(r.getAs[Int]("port") == 443)
    assert(r.getAs[String]("path") == "/api/browser-ext-user")
    assert(r.getAs[String]("http_version") == "HTTP/2.0")
    assert(r.getAs[String]("ua_browser_family") == "Chrome")
    assert(r.getAs[String]("ua_os_family") == "Windows")
    assert(!r.getAs[Boolean]("is_bot"))
    // (0.001 + 0.303 + 0.000) * 1000 = 304.0
    assert(r.getAs[Double]("total_processing_time_ms") == 304.0)
    // UTC instant of 2025-05-26T23:55:02.179979Z
    assert(r.getAs[Timestamp]("time") == Timestamp.valueOf("2025-05-26 23:55:02.179979"))
    assert(r.getAs[String]("log_source_file").nonEmpty)
  }

  test("short rows and unparseable timestamps are rejected") {
    assert(parsed.filter(parsed("client_ip").isin("10.0.0.3", "10.0.0.4")).count() == 0)
    // total row count: allLines minus the 2 rejected
    assert(parsed.count() == ElbFixtures.allLines.size - 2)
  }

  test("a legitimately empty quoted 29th field does not reject the row") {
    import org.apache.spark.sql.functions._
    // 29 tokens present, last field "" — the CSV reader's default
    // nullValue ("") used to null it and trip the F1 short-row filter;
    // the shlex-parity behavior is to KEEP the row with an empty string
    val line = ElbFixtures.golden.stripSuffix("\"-\"") + "\"\""
    val df = spark.createDataFrame(
      java.util.List.of(Row(line), Row(ElbFixtures.shortLine)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .withColumn("log_source_file", lit("mem"))
    val out = ElbParser.enrich(ElbParser.tokenize(df))
    assert(out.count() == 1, "empty quoted tail field must be kept")
    assert(out.head.getAs[String]("classification_reason") == "")
  }

  test("'-' sentinels null the numerics and the latency") {
    val r = rowFor("10.0.0.1")
    assert(r.isNullAt(r.fieldIndex("total_processing_time_ms")))
    assert(r.getAs[String]("elb_status_code") == "-") // raw stays string here
  }

  test("second timestamp format accepted") {
    val r = rowFor("10.0.0.2")
    assert(r.getAs[Timestamp]("time") == Timestamp.valueOf("2025-05-26 10:00:07"))
    assert(r.getAs[String]("query_params") == "q=1")
    assert(r.getAs[String]("path") == "/a/b/c")
  }

  test("malformed request yields Unknown method and empty/null URL parts") {
    val r = rowFor("10.0.0.5")
    assert(r.getAs[String]("http_method") == "Unknown")
    assert(r.getAs[String]("full_url") == "")
    assert(r.getAs[String]("http_version") == "")
    assert(r.isNullAt(r.fieldIndex("hostname")))
  }

  test("bot UA flags and families") {
    val bot = rowFor("10.0.0.6")
    assert(bot.getAs[Boolean]("is_bot"))
    assert(bot.getAs[String]("ua_browser_family") == "Googlebot")
    val dash = rowFor("10.0.0.7")
    assert(!dash.getAs[Boolean]("is_bot"))
    assert(dash.getAs[String]("ua_browser_family") == "Unknown")
    assert(dash.getAs[String]("ua_os_family") == "Unknown")
  }

  test("parse output and cleaned-sink parquet keep their column order") {
    // the 29 raw fields, the source file, then the 13 derived columns in
    // the order `enrich`'s withColumns map yields them
    val raw = ElbSchema.raw.fieldNames.toSeq :+ "log_source_file"
    assert(parsed.columns.toSeq == raw ++ Seq("is_bot", "ua_browser_family",
      "total_processing_time_ms", "full_url", "http_method", "query_params",
      "ua_os_family", "client_ip", "protocol", "path", "hostname", "port",
      "http_version"))
    val out = java.nio.file.Files.createTempDirectory("elb-order").toString
    graft.Pipeline.run(spark, graft.Pipeline.Config(
      Seq(ElbFixtures.standardFixture()), out, s"$out/ip_geolocation_cache.parquet"))
    // one part file, read alone: the physical schema, without the
    // partition columns that directory discovery appends
    val part = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/cleaned_logs"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    // parse output, then geo and feature columns; `time` is stringified in
    // place and the four partition keys live in the directory names
    assert(spark.read.parquet(part).columns.toSeq == parsed.columns.toSeq ++ Seq(
      "status", "message", "countryName", "region", "regionName", "city",
      "lat", "lon", "isp", "query", "api_fetch_timestamp",
      "request_week_of_year", "status_code_type", "path_depth",
      "path_main_segment", "request_day", "request_month", "request_year",
      "request_hour", "request_day_of_week", "prev_time", "time_diff_min",
      "new_session", "session_no", "session_id", "rolling_5min_req_count",
      "rolling_1h_avg_proc_time"))
  }

  test("the parse plan classifies the UA once, with no regex ladder") {
    import org.apache.spark.sql.catalyst.expressions.RLike
    import graft.functions.UaClassify
    val plan = ElbParser.parse(spark, Seq(ElbFixtures.standardFixture()))
      .queryExecution.executedPlan
    val exprs = plan.collect { case node => node.expressions }.flatten
    assert(exprs.map(_.collect { case u: UaClassify => u }.size).sum == 1, plan)
    assert(!exprs.exists(_.exists(_.isInstanceOf[RLike])), plan)
  }
}
