package graft.elb

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** The sample and the hourly rollup against the formulations they replace:
  * `toJSON` for the sample, `countDistinct` for the distinct-IP count. */
class SinksSpec extends SparkSpec {

  test("sampleJson renders the same strings as toJSON") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("t", TimestampType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("n", LongType), StructField("b", BooleanType),
      StructField("day", DateType), StructField("tags", ArrayType(StringType))))
    val rows = Seq(
      Row("say \"hi\"\\ \t\n ünï", Timestamp.valueOf("2025-05-26 23:55:02.179979"),
        596.0, 0.1f, 1L << 40, true, java.sql.Date.valueOf("2025-05-26"), Seq("a\"b", null)),
      Row(null, null, null, null, null, null, null, null),
      Row("", Timestamp.valueOf("1999-12-31 23:59:59"), -1.5e-7, Float.NaN, -1L, false,
        java.sql.Date.valueOf("1970-01-01"), Seq.empty[String]),
      Row("-", Timestamp.valueOf("2025-03-06 21:42:24"), 1.0e21, 3.25f, 0L, null, null,
        Seq("x")))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    for (n <- Seq(2, 4, 10))
      assert(Sinks.sampleJson(df, n) == df.limit(n).toJSON.collect().toSeq, s"n = $n")
    // the parsed frame the pipeline samples: every column, fixture nulls included
    val parsed = ElbParser.parse(spark, Seq(ElbFixtures.standardFixture()))
    assert(Sinks.sampleJson(parsed, 20) == parsed.limit(20).toJSON.collect().toSeq)
  }

  private lazy val rollupInput: DataFrame = {
    val schema = StructType(Seq(
      StructField("request_year", ShortType), StructField("request_month", ByteType),
      StructField("request_day", ByteType), StructField("request_hour", ByteType),
      StructField("countryName", StringType), StructField("city", StringType),
      StructField("client_ip", StringType), StructField("total_processing_time_ms", FloatType),
      StructField("sent_bytes", LongType), StructField("received_bytes", LongType),
      StructField("status_code_type", StringType)))
    def r(hour: Int, country: String, city: String, ip: String, ms: java.lang.Float,
        status: String) =
      Row(2025.toShort, 5.toByte, 26.toByte, hour.toByte, country, city, ip, ms,
        java.lang.Long.valueOf(100L * hour), java.lang.Long.valueOf(7L), status)
    val rows = Seq(
      // one IP repeated within an hour and across hours
      r(10, "US", "Ohio", "1.1.1.1", 1.5f, "2xx_Success"),
      r(10, "US", "Ohio", "1.1.1.1", 2.5f, "4xx_ClientError"),
      r(10, "US", "Ohio", "2.2.2.2", null, "5xx_ServerError"),
      r(11, "US", "Ohio", "1.1.1.1", 4.0f, "2xx_Success"),
      r(11, "US", "Ohio", "2.2.2.2", 8.0f, "Unknown"),
      // a null client_ip beside a real one, and a group of null IPs only
      r(11, "DE", "Berlin", null, 3.0f, "2xx_Success"),
      r(11, "DE", "Berlin", "3.3.3.3", 1.0f, "2xx_Success"),
      r(12, "FR", "Paris", null, 5.0f, "4xx_ClientError"),
      // null geo: dropped by the rollup
      r(10, null, "Ohio", "1.1.1.1", 1.0f, "2xx_Success"),
      r(10, "US", null, "4.4.4.4", 1.0f, "2xx_Success"),
      r(12, null, null, "5.5.5.5", 1.0f, "2xx_Success"))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
  }

  test("hourlyAggregation equals the countDistinct formulation, rows and schema") {
    val df = rollupInput
    val old = df.filter(col("countryName").isNotNull && col("city").isNotNull)
      .groupBy(col("request_year"), col("request_month"), col("request_day"),
        col("request_hour"), col("countryName"), col("city"))
      .agg(
        count(col("client_ip")).as("request_count"),
        countDistinct(col("client_ip")).as("unique_client_ips_count"),
        avg(col("total_processing_time_ms")).as("average_total_processing_time"),
        median(col("total_processing_time_ms")).as("median_total_processing_time"),
        sum(col("sent_bytes")).as("sum_sent_bytes"),
        sum(col("received_bytes")).as("sum_received_bytes"),
        count_if(col("status_code_type") === "2xx_Success").as("count_2xx"),
        count_if(col("status_code_type") === "4xx_ClientError").as("count_4xx"),
        count_if(col("status_code_type") === "5xx_ServerError").as("count_5xx"))
    val now = Sinks.hourlyAggregation(df)
    assert(now.schema == old.schema)
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(now) == rows(old))
    val byGroup = now.collect().map(r => (r.getAs[Byte]("request_hour").toInt,
      r.getAs[String]("city")) -> r.getAs[Long]("unique_client_ips_count")).toMap
    assert(byGroup == Map((10, "Ohio") -> 2L, (11, "Ohio") -> 2L, (11, "Berlin") -> 1L,
      (12, "Paris") -> 0L))
  }

  test("hourly plan is one partial/final aggregate pair, with no Expand") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the physical plan before exchanges are placed: a distinct count adds
    // a second pair keyed by client_ip as well, and with it a second shuffle
    val plan = Sinks.hourlyAggregation(rollupInput).queryExecution.sparkPlan
    assert(plan.collect { case e: ExpandExec => e }.isEmpty, plan)
    val aggs = plan.collect { case a: BaseAggregateExec => a }
    assert(aggs.size == 2 && aggs.forall(_.groupingExpressions.size == 6), plan)
  }
}
