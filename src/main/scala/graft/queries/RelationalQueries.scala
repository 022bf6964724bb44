package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.elb.Features
import graft.ops.Relational

/** SURVEY.md §2 relational operator inventory, re-expressed over the
  * driver's TPC-H-ish tables, each with a DuckDB-equivalent oracle.
  *
  * Conventions for oracle parity (driver sorts columns by name, then
  * hashes values):
  *  - every computed column aliased identically on both sides;
  *  - integer outputs cast to BIGINT on both sides (DuckDB date-part
  *    functions return BIGINT; Spark's return INT);
  *  - floating aggregates rounded (4 d.p. for avgs, 2 d.p. for sums) to
  *    absorb summation-order ulps;
  *  - event-time arithmetic done on epoch milliseconds (both engines floor
  *    the file's ns values identically);
  *  - window orderings carry a unique tiebreak column.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  private def ms(c: org.apache.spark.sql.Column) = unix_millis(c)

  // ———————————————————————————————————————————— A1-style multi-aggregate
  // (count / countDistinct / avg / exact median / sum / conditional counts
  //  — the reference's hourly rollup shape, advanced_elb_logs_etl.py:347-359)
  val q01HourlyAgg: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    ev.groupBy(
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("d"),
        hour(col("ts")).cast("long").as("h"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        // avg derived as round(sum,2)/count: the rounded sum is an exact
        // 2-d.p. decimal on both engines (inputs are 2-d.p.), and a single
        // division of identical doubles is bit-identical — whereas
        // round(avg, k) can land on a half-at-k boundary where Spark
        // (BigDecimal HALF_UP) and DuckDB (C-library) disagree.
        (round(sum(col("value")), 2) / count(col("value"))).as("avg_value"),
        round(median(col("value")), 4).as("med_value"),
        round(sum(col("value")), 2).as("sum_value"),
        count_if(col("event_type") === "purchase").as("n_purchase"),
        count_if(col("event_type") === "error").as("n_error"),
        count_if(col("event_type") === "click").as("n_click"))
  }
  val q01Sql: String = """
    SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
      count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      round(sum(value), 2) / count(value) AS avg_value,
      round(median(value), 4) AS med_value,
      round(sum(value), 2) AS sum_value,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click
    FROM events GROUP BY 1, 2, 3, 4"""

  // ———————————————————————————————————————————— scan + filter + big agg
  val q02PricingSummary: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        (round(sum(col("l_quantity")), 2) / count(col("l_quantity"))).as("avg_qty"),
        (round(sum(col("l_extendedprice")), 2) / count(col("l_extendedprice"))).as("avg_price"),
        (round(sum(col("l_discount")), 2) / count(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  val q02Sql: String = """
    SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(sum(l_quantity), 2) / count(l_quantity) AS avg_qty,
      round(sum(l_extendedprice), 2) / count(l_extendedprice) AS avg_price,
      round(sum(l_discount), 2) / count(l_discount) AS avg_disc,
      count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2"""

  // ———————————————————————————————————————————— multi-join + agg
  // (small dims broadcast — J1's shape at warehouse scale)
  val q03RevenueByNation: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"), col("r_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }
  val q03Sql: String = """
    SELECT n_name, r_name, round(sum(o_totalprice), 2) AS revenue,
      count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2"""

  // ———————————————————————————————————————————— anti join (J2's shape)
  val q04CustomersNoOrders: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    // anti-join against a filtered build side so the result is non-empty
    // at every SF (plain customers-without-orders is empty in this data)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }
  val q04Sql: String = """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)"""

  // ———————————————————————————————————————————— semi join
  val q05BigSpenderSemi: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
  }
  val q05Sql: String = """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 150000)"""

  // ———————————————————————————————————————————— keep-last upsert (J3)
  val q06UpsertKeepLast: Q = (s, dir) => {
    val p = Tables.part(s, dir)
    val base = p.select(col("p_partkey"),
      round(col("p_retailprice"), 2).as("price"), lit(0L).as("src"))
    val fresh = p.filter(col("p_partkey") % 7 === 0).select(col("p_partkey"),
      round(col("p_retailprice") * 1.1, 2).as("price"), lit(1L).as("src"))
    Relational.keepLastUpsert(base, fresh, Seq("p_partkey"))
  }
  val q06Sql: String = """
    SELECT p_partkey, price, src FROM (
      SELECT p_partkey, price, src,
        row_number() OVER (PARTITION BY p_partkey ORDER BY src DESC) AS rn
      FROM (
        SELECT p_partkey, round(p_retailprice, 2) AS price, CAST(0 AS BIGINT) AS src FROM part
        UNION ALL
        SELECT p_partkey, round(p_retailprice * 1.1, 2) AS price, CAST(1 AS BIGINT) AS src
        FROM part WHERE p_partkey % 7 = 0))
    WHERE rn = 1"""

  // ———————————————————————————————————————————— W1: lag + gap
  val q07LagGap: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    ev.withColumn("ms", ms(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      // no rounding: one division of identical integer operands is
      // bit-identical across engines
      .select(col("event_id"), col("user_id"),
        ((col("ms") - col("prev_ms")) / 60000.0).as("gap_min"))
  }
  val q07Sql: String = """
    SELECT event_id, user_id,
      (epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER
        (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)) / 60000.0 AS gap_min
    FROM events"""

  // ———————————————————————————————————————————— W2: gap sessionization
  val q08Sessionize: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("ms", ms(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("gap_min", (col("ms") - col("prev_ms")) / 60000.0)
      .withColumn("new_session", col("gap_min") > 30 || col("gap_min").isNull)
      .withColumn("session_no",
        sum(when(col("new_session"), 1).otherwise(0)).over(run))
      .select(col("event_id"), col("user_id"),
        concat(col("session_no").cast("string"), lit("-"),
          col("user_id").cast("string")).as("session_id"))
  }
  val q08Sql: String = """
    WITH g AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ms,
        (epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER
          (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)) / 60000.0 AS gap_min
      FROM events)
    SELECT event_id, user_id,
      CAST(sum(CASE WHEN gap_min > 30 OR gap_min IS NULL THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ms, event_id
              ROWS UNBOUNDED PRECEDING) AS VARCHAR)
      || '-' || CAST(user_id AS VARCHAR) AS session_id
    FROM g"""

  // ———————————————————————————————————————————— W3: rolling 5-min count
  // (half-open (t-5min, t] frame — pandas rolling semantics, SURVEY §7.4.2)
  val q09Rolling5mCount: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ms")
      .rangeBetween(-(5L * 60 * 1000 - 1), Window.currentRow)
    ev.withColumn("ms", ms(col("ts")))
      .select(col("event_id"), count(lit(1)).over(w).as("n_5min"))
  }
  val q09Sql: String = """
    SELECT event_id, count(*) OVER
      (PARTITION BY user_id ORDER BY epoch_ms(ts)
       RANGE BETWEEN 299999 PRECEDING AND CURRENT ROW) AS n_5min
    FROM events"""

  // ———————————————————————————————————————————— W4: rolling 1-h mean
  val q10Rolling1hAvg: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ms")
      .rangeBetween(-(60L * 60 * 1000 - 1), Window.currentRow)
    ev.withColumn("ms", ms(col("ts")))
      .select(col("event_id"),
        (round(sum(col("value")).over(w), 2) / count(col("value")).over(w)).as("avg_1h"))
  }
  val q10Sql: String = """
    SELECT event_id, round(sum(value) OVER w, 2) / count(value) OVER w AS avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)"""

  // ———————————————————————————————————————————— A3: distinct
  val q11DistinctUsers: Q = (s, dir) =>
    Tables.events(s, dir).select(col("user_id")).distinct()
  val q11Sql: String = "SELECT DISTINCT user_id FROM events"

  // ———————————————————————————————————————————— U1: name-aligned union
  val q12UnionMixed: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"))
    clicks.unionByName(errors, allowMissingColumns = true)
  }
  val q12Sql: String = """
    SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value
    FROM events WHERE event_type = 'error'"""

  // ———————————————————————————————————————————— O1/O2: sort + limit
  val q13TopLineitems: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"))
      .limit(100)
  val q13Sql: String = """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"""

  // ———————————————————————————————————————————— P11: CASE bucketing
  // (reuses the engine's statusCodeType expression)
  val q14ValueBucket: Q = (s, dir) => {
    val code = floor(col("value") * 4).cast("long")
    Tables.events(s, dir)
      .select(col("event_id"), code.as("code"),
        Features.statusCodeType(code).as("bucket"))
  }
  val q14Sql: String = """
    SELECT event_id, CAST(floor(value * 4) AS BIGINT) AS code,
      CASE
        WHEN floor(value * 4) BETWEEN 100 AND 199 THEN '1xx_Informational'
        WHEN floor(value * 4) BETWEEN 200 AND 299 THEN '2xx_Success'
        WHEN floor(value * 4) BETWEEN 300 AND 399 THEN '3xx_Redirection'
        WHEN floor(value * 4) BETWEEN 400 AND 499 THEN '4xx_ClientError'
        WHEN floor(value * 4) BETWEEN 500 AND 599 THEN '5xx_ServerError'
        ELSE 'Unknown' END AS bucket
    FROM events"""

  // ———————————————————————————————————————————— P12: time parts
  val q15TimeParts: Q = (s, dir) =>
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      date_format(col("o_orderdate"), "EEEE").as("dn"),
      weekofyear(col("o_orderdate")).cast("long").as("wk"))
  val q15Sql: String = """
    SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
      day(o_orderdate) AS d, dayname(o_orderdate) AS dn,
      week(o_orderdate) AS wk
    FROM orders"""

  // ———————————————————————————————————————————— P2/P3: sentinel casts
  // (reuses the engine's nullSentinelLong)
  val q16SentinelCast: Q = (s, dir) => {
    val raw = regexp_extract(col("props"), "[0-9]+", 0)
    val kStr = when(col("event_id") % 10 === 0, lit("-")).otherwise(raw)
    Tables.events(s, dir)
      .select(col("event_id"), graft.elb.ElbParser.nullSentinelLong(kStr).as("k"))
  }
  val q16Sql: String = """
    SELECT event_id,
      TRY_CAST(NULLIF(CASE WHEN event_id % 10 = 0 THEN '-'
                           ELSE regexp_extract(props, '[0-9]+') END, '-') AS BIGINT) AS k
    FROM events"""

  // ———————————————————————————————————————————— P8: URL decomposition
  // (Spark side uses parse_url; oracle re-derives with regexes)
  val q17UrlParse: Q = (s, dir) => {
    val url = concat(lit("https://"), col("source"), lit(".example.com:"),
      (lit(8000) + col("doc_id") % 3).cast("string"),
      lit("/"), col("lang"), lit("/doc?id="), col("doc_id").cast("string"))
    Tables.documents(s, dir)
      .withColumn("url", url)
      .select(col("doc_id"),
        lower(parse_url(col("url"), lit("HOST"))).as("host"),
        regexp_extract(col("url"), "^[^:/?#]+://[^/?#]*?:(\\d+)(?:[/?#]|$)", 1)
          .cast("long").as("port"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("query"))
  }
  val q17Sql: String = """
    WITH u AS (
      SELECT doc_id, 'https://' || source || '.example.com:'
        || CAST(8000 + doc_id % 3 AS VARCHAR) || '/' || lang || '/doc?id='
        || CAST(doc_id AS VARCHAR) AS url
      FROM documents)
    SELECT doc_id,
      lower(regexp_extract(url, '^[a-z]+://([^/:]+)', 1)) AS host,
      CAST(regexp_extract(url, '^[a-z]+://[^/]*?:([0-9]+)[/?#]', 1) AS BIGINT) AS port,
      regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
      regexp_extract(url, '\?([^#]*)$', 1) AS query
    FROM u"""

  // ———————————————————————————————————————————— ranking: top-k per group
  val q33TopOrdersPerCust: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rk").cast("long").as("rk"))
  }
  val q33Sql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3"""

  // ———————————————————————————————————————————— rollup (grouping sets)
  val q34RevenueRollup: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }
  val q34Sql: String = """
    SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue,
      count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)"""

  // ———————————————————————————————————————————— as-of (temporal) join
  // each event picks up the user's most recent order at event time;
  // DuckDB's native ASOF JOIN is the oracle
  val q35AsOfJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), ms(col("ts")).as("ev_ms"))
    // one row per (custkey, orderdate): keep the max orderkey (ties would
    // make any as-of implementation arbitrary); every 3rd customer is
    // excluded so the null-extension (no match) path is oracle-covered
    val ord = Tables.orders(s, dir)
      .filter(col("o_custkey") % 3 =!= 0)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("last_order_key"))
      // o_orderdate reads as TIMESTAMP_NTZ; cast is identity under the
      // UTC session zone and unix_millis requires the instant type
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ord_ms"),
        col("last_order_key"))
    graft.ops.Relational.asOfJoinBackward(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ev_ms", rightTs = "ord_ms",
        payloadCols = Seq("last_order_key"))
      .select(col("event_id"), col("user_id"), col("last_order_key"))
  }
  val q35Sql: String = """
    WITH ord AS (
      SELECT o_custkey, epoch_ms(o_orderdate) AS ord_ms,
        max(o_orderkey) AS last_order_key
      FROM orders WHERE o_custkey % 3 != 0 GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, o.last_order_key
    FROM events e ASOF LEFT JOIN ord o
      ON e.user_id = o.o_custkey AND epoch_ms(e.ts) >= o.ord_ms"""

  // ———————————————————————————————————————————— bucketed range join
  // (every error event paired with the click events within ±60 s, no
  //  equality key: the theta join becomes an equi join on a tolerance-
  //  width time bucket (left exploded to bucket ± 1) + exact filter —
  //  Spark would otherwise plan a nested-loop cross product. The oracle
  //  is the naive inequality join.)
  val q84RangeJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("a_id"), ms(col("ts")).as("a_ms"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("b_id"), ms(col("ts")).as("b_ms"))
    graft.ops.Relational.rangeJoin(errors, clicks, "a_ms", "b_ms", 60000L)
      .select(col("a_id"), col("b_id"), (col("a_ms") - col("b_ms")).as("dt_ms"))
  }
  val q84Sql: String = """
    SELECT a.event_id AS a_id, b.event_id AS b_id,
      epoch_ms(a.ts) - epoch_ms(b.ts) AS dt_ms
    FROM events a JOIN events b
      ON a.event_type = 'error' AND b.event_type = 'click'
      AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 60000"""

  // ———————————————————————————————————————————— JSON extraction
  val q36JsonExtract: Q = (s, dir) =>
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
  // json_valid guard: Spark's get_json_object nulls malformed JSON while
  // DuckDB's json_extract_string THROWS — the guard makes the oracle
  // total like the Spark side
  val q36Sql: String = """
    SELECT event_id,
      CASE WHEN json_valid(props) THEN props->>'k' END AS k_str,
      CAST(CASE WHEN json_valid(props)
                THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
    FROM events"""

  // ———————————————————————————————————————————— pivot
  val q37Pivot: Q = (s, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
    types.foldLeft(pivoted)((d, t) =>
      d.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t))
  }
  val q37Sql: String = """
    SELECT user_id,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events GROUP BY user_id"""

  // ———————————————————————————————————————————— array explode (generator)
  val q38Explode: Q = (s, dir) =>
    Tables.embeddings(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "val")))
      .select(col("vec_id"), col("idx").cast("long").as("idx"), col("val"))
  val q38Sql: String = """
    SELECT vec_id,
      CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS idx,
      CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings WHERE vec_id < 5"""

  // ———————————————————————————————————————————— exact percentiles
  // (interpolated — both engines compute rank = p*(n-1) and lerp; inputs
  //  are integral so the 4-d.p. round lands away from any half boundary)
  val q46Percentiles: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
  val q46Sql: String = """
    SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.25), 4) AS p25,
      round(quantile_cont(l_quantity, 0.5), 4) AS p50,
      round(quantile_cont(l_quantity, 0.9), 4) AS p90,
      count(*) AS n
    FROM lineitem GROUP BY 1"""

  // ———————————————————————————————————————————— CUBE grouping sets
  val q47Cube: Q = (s, dir) =>
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  val q47Sql: String = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""

  // ———————————————————————————————————————————— explicit GROUPING SETS
  // (the general member of the rollup/cube family: an arbitrary set list
  //  — here (status, priority), (status), () but NOT (priority) —
  //  plus grouping_id to distinguish "grouped-out" from a genuinely
  //  null key, the standard disambiguator)
  val q85GroupingSets: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  val q85Sql: String = """
    SELECT o_orderstatus, o_orderpriority,
      CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
      count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())"""

  // ———————————————————————————————————————————— ranking-function family
  // (ntile / percent_rank / cume_dist / dense_rank share one window —
  //  unique tiebreak keeps every rank engine-deterministic)
  val q48RankFamily: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      dense_rank().over(w).cast("long").as("dr"))
  }
  val q48Sql: String = """
    SELECT o_custkey, o_orderkey,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      percent_rank() OVER w AS pr,
      cume_dist() OVER w AS cd,
      CAST(dense_rank() OVER w AS BIGINT) AS dr
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)"""

  // ———————————————————————————————————————————— set collection per group
  // (collect_set is unordered — sort_array + array_join canonicalize so
  //  both engines emit the identical string; the array itself would also
  //  defeat the driver's value hashing on rendering differences)
  val q51CollectTypes: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        countDistinct(col("event_type")).as("n_types"))
  val q51Sql: String = """
    SELECT user_id,
      array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
      count(DISTINCT event_type) AS n_types
    FROM events GROUP BY 1"""

  // ———————————————————————————————————————————— temporal arithmetic
  // (month floor, day diff, clamped month add, month end, year parts —
  //  everything surfaced as BIGINT epoch-ms/counts so types align; both
  //  engines clamp month addition to the shorter month's end)
  val q52DateMath: Q = (s, dir) => {
    val d = col("o_orderdate").cast("timestamp")
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      unix_millis(date_trunc("month", d)).as("month_start_ms"),
      datediff(d.cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("epoch_days"),
      unix_millis(add_months(d.cast("date"), 3).cast("timestamp")).as("plus3mo_ms"),
      unix_millis(last_day(d.cast("date")).cast("timestamp")).as("month_end_ms"),
      quarter(d).cast("long").as("qtr"),
      dayofyear(d).cast("long").as("doy"))
  }
  val q52Sql: String = """
    SELECT o_orderkey,
      epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
      CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        AS epoch_days,
      epoch_ms(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP))
        AS plus3mo_ms,
      epoch_ms(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP))
        AS month_end_ms,
      CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
    FROM orders"""

  // ———————————————————————————————————————————— math-function batch
  // (sqrt is IEEE-correctly-rounded — bit-identical unrounded; the
  //  transcendentals get a 6-d.p. round to absorb any libm ulp)
  val q57MathFuncs: Q = (s, dir) =>
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      sqrt(col("l_quantity")).as("sqrt_qty"),
      round(log(col("l_extendedprice")), 6).as("ln_price"),
      round(log10(col("l_extendedprice")), 6).as("log10_price"),
      (col("l_discount") * col("l_discount")).as("sq_disc"),
      signum(col("l_discount") - 0.05).cast("long").as("sign_disc"),
      ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
      floor(col("l_extendedprice")).cast("long").as("floor_price"),
      abs(col("l_quantity") - 25).as("abs_qty_dev"))
  val q57Sql: String = """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      sqrt(l_quantity) AS sqrt_qty,
      round(ln(l_extendedprice), 6) AS ln_price,
      round(log10(l_extendedprice), 6) AS log10_price,
      l_discount * l_discount AS sq_disc,
      CAST(sign(l_discount - 0.05) AS BIGINT) AS sign_disc,
      CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
      CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
      abs(l_quantity - 25) AS abs_qty_dev
    FROM lineitem"""

  // ————————————————————————— time-grid gap-fill + forward-fill (q105)
  // (hourly resample of the events stream per user: integer bucket
  //  indices end-to-end, arg_max/max_by picks the bucket's last value by
  //  event_id, IGNORE-NULLS last carries it across gaps)
  val q105GapFill: Q = (s, dir) =>
    graft.ops.TimeSeries.gapFillForwardFill(Tables.events(s, dir),
      "user_id", "ts", "value", "event_id", stepMs = 3600000L)
  val q105Sql: String = """
    WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS b, value, event_id
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    obs AS (SELECT user_id, b, arg_max(value, event_id) AS v FROM e GROUP BY 1, 2),
    span AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS b FROM span),
    j AS (SELECT g.user_id, g.b, o.v
          FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.b = g.b)
    SELECT user_id, b * 3600000 AS bucket_ms, v,
      last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      v IS NULL AS is_gap
    FROM j"""

  // ————————————————————————— SCD2 dimension build (q106)
  // (orders as a per-customer change log → half-open validity intervals
  //  via one lead window; latest version flagged current)
  val q106Scd2: Q = (s, dir) =>
    Relational.scd2(
      Tables.orders(s, dir).select("o_custkey", "o_orderkey",
        "o_orderstatus", "o_orderdate"),
      "o_custkey", "o_orderdate", "o_orderkey")
      .drop("o_orderdate")
  val q106Sql: String = """
    WITH s AS (SELECT o_custkey, o_orderkey, o_orderstatus,
        epoch_ms(o_orderdate) AS valid_from_ms,
        epoch_ms(lead(o_orderdate) OVER w) AS valid_to_ms
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
    SELECT *, valid_to_ms IS NULL AS is_current FROM s"""

  // ————————————————————————— ordered session funnel (q107)
  // (q08's gap sessionization + three chained ordered-step window mins:
  //  step k is the first matching event strictly after step k-1, so a
  //  missing earlier step nulls everything downstream. All-µs integers.)
  val q107Funnel: Q = (s, dir) =>
    graft.ops.Analytics.sessionFunnel(Tables.events(s, dir),
      Seq("view", "click", "purchase"))
  val q107Sql: String = """
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    s AS (SELECT user_id, event_type, us,
        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
      FROM g),
    f1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
             OVER (PARTITION BY user_id, sess) AS s1 FROM s),
    f2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > s1 THEN us END)
             OVER (PARTITION BY user_id, sess) AS s2 FROM f1),
    f3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > s2 THEN us END)
             OVER (PARTITION BY user_id, sess) AS s3 FROM f2)
    SELECT DISTINCT user_id, sess, s1 // 1000 AS step1_ms,
      s2 // 1000 AS step2_ms, s3 // 1000 AS step3_ms
    FROM f3"""

  // ————————————————————————— cohort retention matrix (q108)
  // (cohort = epoch-week of the user's first event; one cell per
  //  (cohort, offset) with distinct active users — all integer math)
  val q108Cohort: Q = (s, dir) =>
    graft.ops.Analytics.cohortRetention(Tables.events(s, dir))
  val q108Sql: String = """
    WITH f AS (SELECT user_id,
        min(epoch_us(ts) // 86400000000 // 7) AS cohort_week
      FROM events GROUP BY 1),
    a AS (SELECT e.user_id, f.cohort_week,
        epoch_us(ts) // 86400000000 // 7 - f.cohort_week AS week_offset
      FROM events e JOIN f USING (user_id))
    SELECT cohort_week, week_offset,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM a GROUP BY 1, 2"""

  // ————————————————————————— CDC apply / lakehouse MERGE (q110)
  // (orders re-cast as a per-customer change log — every 10th order a
  //  delete, the rest upserts — collapsed to last-op-per-key and merged
  //  onto the customer snapshot: deletes drop the key, upserts replace
  //  or insert the payload, untouched base rows pass through)
  val q110CdcApply: Q = (s, dir) => {
    val base = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal")
    val log = Tables.orders(s, dir).select(
      col("o_custkey").as("c_custkey"),
      concat(lit("cdc_"), col("o_orderkey").cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("ts"),
      col("o_orderkey").as("tie"),
      when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"))
    Relational.applyCdc(base, log, "c_custkey", "ts", "tie")
  }
  val q110Sql: String = """
    WITH lg AS (SELECT o_custkey AS c_custkey,
        'cdc_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        o_totalprice AS c_acctbal,
        epoch_ms(o_orderdate) AS ts, o_orderkey AS tie,
        CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders),
    last AS (SELECT * FROM (
        SELECT *, row_number() OVER
          (PARTITION BY c_custkey ORDER BY ts DESC, tie DESC) AS rn
        FROM lg) WHERE rn = 1)
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM last l WHERE l.c_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM last WHERE op <> 'D'"""

  // ————————————————————————— rolling z-score anomalies (q115)
  // (each value scored against the 10 observations strictly before it;
  //  z from two exact integers — (v·cnt − s)/sqrt(cnt·ss − s²) — so the
  //  sliding-frame accumulation order can't leak into the result)
  val q115RollingZscore: Q = (s, dir) =>
    graft.ops.TimeSeries.rollingZscore(Tables.events(s, dir),
      "user_id", "ts", "value", "event_id", nPrev = 10, zThreshold = 2.0)
  val q115Sql: String = """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        CAST(round(value * 1000) AS BIGINT) AS v
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    w AS (SELECT user_id, event_id, us // 1000 AS ts_ms, v,
        count(v) OVER fr AS w_cnt,
        sum(v) OVER fr AS w_sum,
        sum(v * v) OVER fr AS w_sumsq
      FROM e
      WINDOW fr AS (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
    z AS (SELECT user_id, event_id, ts_ms, v,
        CAST(w_cnt AS BIGINT) AS w_cnt, CAST(w_sum AS BIGINT) AS w_sum,
        CASE WHEN w_cnt = 10 AND w_cnt * w_sumsq - w_sum * w_sum > 0
          THEN round(CAST(v * w_cnt - w_sum AS DOUBLE) /
            sqrt(CAST(w_cnt * w_sumsq - w_sum * w_sum AS DOUBLE)), 6)
        END AS z
      FROM w)
    SELECT user_id, event_id, ts_ms, v, w_cnt, w_sum, z,
      coalesce(abs(z) > 2.0, false) AS is_anomaly
    FROM z"""

  // ————————————————————————— incremental rollup maintenance (q116)
  // (the materialized-view pattern: per-batch partial (cnt,sum,min,max)
  //  monoid state merged with stored state, finalized at read time; the
  //  oracle recomputes directly from all events — merge ≡ recompute)
  val q116IncrementalRollup: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val base = ev.where(col("event_id") % 5 =!= 0)
    val delta = ev.where(col("event_id") % 5 === 0)
    graft.ops.Analytics.finalizeStats(graft.ops.Analytics.mergePartialStats(
      graft.ops.Analytics.partialHourlyStats(base),
      graft.ops.Analytics.partialHourlyStats(delta)))
  }
  val q116Sql: String = """
    WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS b,
        CAST(round(value * 1000) AS BIGINT) AS v
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL)
    SELECT user_id, b * 3600000 AS bucket_ms,
      count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_mv,
      min(v) AS min_mv, max(v) AS max_mv,
      round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_mv
    FROM e GROUP BY user_id, b"""

  // ————————————————————————— winsorized group stats (q118)
  // (per-flag [p05, p95] clamp of extended price in exact cent space;
  //  thresholds FLOORED to integers — round would sit on half-ulp
  //  interpolation boundaries, floor never does)
  val q118Winsorize: Q = (s, dir) =>
    graft.ops.Analytics.winsorizedStats(Tables.lineitem(s, dir),
      "l_returnflag", "l_extendedprice")
  val q118Sql: String = """
    WITH c AS (SELECT l_returnflag AS g,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS cv
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
    t AS (SELECT g,
        CAST(floor(quantile_cont(cv, 0.05)) AS BIGINT) AS p_lo_c,
        CAST(floor(quantile_cont(cv, 0.95)) AS BIGINT) AS p_hi_c
      FROM c GROUP BY g)
    SELECT g AS l_returnflag, p_lo_c, p_hi_c, count(*) AS n,
      CAST(sum(CASE WHEN cv < p_lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      CAST(sum(CASE WHEN cv > p_hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      round(CAST(sum(greatest(least(cv, p_hi_c), p_lo_c)) AS DOUBLE)
        / count(*), 6) AS wins_mean_c
    FROM c JOIN t USING (g)
    GROUP BY g, p_lo_c, p_hi_c"""

  // ————————————————————————— KMV set-operation estimates (q119)
  // (distinct users of even- vs odd-id events, union, intersection,
  //  Jaccard — all from one salted-min-k sketch pass; exact below k,
  //  the same fixed-expression estimator as q109)
  val q119KmvSetops: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    graft.ops.Sketches.kmvSetOps(
      ev.where(col("event_id") % 2 === 0).select(col("user_id")),
      ev.where(col("event_id") % 2 =!= 0).select(col("user_id")),
      "user_id", k = 64)
  }
  val q119Sql: String = """
    WITH va AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
                WHERE event_id % 2 = 0 AND user_id IS NOT NULL),
    vb AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
           WHERE event_id % 2 <> 0 AND user_id IS NOT NULL),
    t AS (SELECT 'a' AS g, v FROM va UNION ALL SELECT 'b', v FROM vb
          UNION ALL SELECT 'u', v FROM va UNION ALL SELECT 'u', v FROM vb),
    h AS (SELECT DISTINCT g,
            CAST(('0x' || substr(md5(v), 1, 8)) AS BIGINT) AS h FROM t),
    r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
          FROM h),
    kk AS (SELECT g, count(*) AS n_kept, max(h) AS kth
           FROM r WHERE rk <= 64 GROUP BY 1),
    e AS (SELECT g, CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE round(63 * 4294967296.0 / kth, 2) END AS est FROM kk),
    p AS (SELECT max(CASE WHEN g = 'a' THEN est END) AS est_a,
            max(CASE WHEN g = 'b' THEN est END) AS est_b,
            max(CASE WHEN g = 'u' THEN est END) AS est_union FROM e)
    SELECT est_a, est_b, est_union,
      greatest(round(est_a + est_b - est_union, 2), 0.0) AS est_inter,
      round(greatest(round(est_a + est_b - est_union, 2), 0.0) / est_union,
        6) AS jaccard_est
    FROM p"""

  // ————————————————————————— session Markov transitions (q121)
  // (adjacent event-type pairs within q08 sessions; row-normalized
  //  probabilities from exact integer counts)
  val q121Transitions: Q = (s, dir) =>
    graft.ops.Analytics.sessionTransitions(Tables.events(s, dir))
  val q121Sql: String = """
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    s AS (SELECT user_id, event_id, event_type, us,
        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
      FROM g),
    pr AS (SELECT event_type AS from_type,
        lead(event_type) OVER (PARTITION BY user_id, sess
          ORDER BY us, event_id) AS to_type
      FROM s),
    c AS (SELECT from_type, to_type, count(*) AS n_trans FROM pr
          WHERE to_type IS NOT NULL GROUP BY 1, 2),
    tt AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS ct
           FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n_trans,
      round(CAST(c.n_trans AS DOUBLE) / tt.ct, 6) AS prob
    FROM c JOIN tt USING (from_type)"""

  // ————————————————————————— streaming incremental rollup (q123)
  // (the q116 monoid wired into foreachBatch: three deterministic
  //  event_id-residue micro-batches fold partials into a stored rollup
  //  table; the oracle recomputes from the same events — the streamed
  //  materialized view must equal the batch recompute. The driver
  //  collect exists only to make the micro-batch decomposition
  //  reproducible for the oracle, and — like q88's admission drain — is
  //  bounded by an id-range filter (<900 rows at any SF) so the harness
  //  never pulls a full table through the driver; production reads a
  //  real source and never collects.)
  val q123StreamRollup: Q = (s, dir) => {
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull && col("event_id") < 900)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val batches = (0 until 3).map(k => rows.filter(_._1 % 3 == k).toSeq)
    val path = graft.Staging.scratch("graft-rollup").resolve("state.parquet").toString
    graft.streaming.StreamingRollup.rollupInBatches(s, batches, path)
  }
  // streamed view ≡ one-shot batch recompute over the same bounded id range
  val q123Sql: String = """
    WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS b,
        CAST(round(value * 1000) AS BIGINT) AS v
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        AND event_id < 900)
    SELECT user_id, b * 3600000 AS bucket_ms,
      count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_mv,
      min(v) AS min_mv, max(v) AS max_mv,
      round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_mv
    FROM e GROUP BY user_id, b"""

  // ————————————————————————— z-order layout key (q126)
  // (Morton interleave of bucketed (user, hour) — the clustering key
  //  whose range partition gives tight per-file min/max on BOTH
  //  dimensions; pure shift/mask integer algebra, bit-identical
  //  everywhere. clusterByZOrder is the layout step, spec-gated.)
  val q126ZOrder: Q = (s, dir) =>
    Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), (col("user_id") % 256).as("xb"),
        (expr("unix_micros(ts) div 3600000000") % 256).as("yb"))
      .withColumn("z",
        graft.ops.Scale.zOrderValue(col("xb"), col("yb"), bits = 8))
  val q126Sql: String = {
    val terms = (0 until 8).map(i =>
      s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""
    WITH b AS (SELECT event_id, user_id % 256 AS xb,
        (epoch_us(ts) // 3600000000) % 256 AS yb
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT event_id, xb, yb, CAST($terms AS BIGINT) AS z FROM b"""
  }

  // ————————————————————————— schema-driven table profile (q127)
  // (per-column row/non-null/exact-distinct counts + string-rendered
  //  extrema; one column-pruned aggregate per column, unioned — the
  //  ingest-time data-quality audit)
  val q127TableProfile: Q = (s, dir) =>
    graft.ops.Reporting.tableProfile(Tables.lineitem(s, dir))
  val q127Sql: String = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate").map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
      count($c) AS n_non_null,
      CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
      CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
    FROM lineitem"""
  }.mkString(" UNION ALL ")

  // ————————————————————————— snapshot diff / CDC derive (q134)
  // (the inverse of q110: two keyed snapshots → the I/U/D change log
  //  with per-row changed-column names; both snapshots derive
  //  deterministically from orders so either engine rebuilds them —
  //  old = keys % 7 ≠ 0 at original prices, new = keys % 5 ≠ 0 with
  //  price doubled when key % 3 = 0)
  val q134SnapshotDiff: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val oldSnap = o.where(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val newSnap = o.where(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    Relational.snapshotDiff(oldSnap, newSnap, "o_orderkey",
      Seq("o_orderstatus", "o_totalprice"))
  }
  val q134Sql: String = """
    WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
               FROM orders WHERE o_orderkey % 7 <> 0),
    n AS (SELECT o_orderkey AS k, o_orderstatus AS s,
            CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                 ELSE o_totalprice END AS p
          FROM orders WHERE o_orderkey % 5 <> 0),
    j AS (SELECT o.k AS ok, n.k AS nk,
            CASE WHEN o.s IS DISTINCT FROM n.s THEN 'o_orderstatus' END AS c1,
            CASE WHEN o.p IS DISTINCT FROM n.p THEN 'o_totalprice' END AS c2
          FROM o FULL JOIN n ON o.k = n.k)
    SELECT coalesce(ok, nk) AS key,
      CASE WHEN ok IS NULL THEN 'I' WHEN nk IS NULL THEN 'D' ELSE 'U' END AS op,
      CASE WHEN ok IS NULL OR nk IS NULL THEN ''
           ELSE concat_ws(',', c1, c2) END AS changed_cols
    FROM j WHERE ok IS NULL OR nk IS NULL OR c1 IS NOT NULL OR c2 IS NOT NULL"""

  // ————————————————————————— k-anonymity suppression (q135)
  // (rows whose (nation, segment) quasi-identifier group has fewer than
  //  k members get the QI columns nulled, not dropped — group_size and
  //  the flag surface for the oracle's window re-derivation)
  val q135KAnonymize: Q = (s, dir) =>
    graft.ops.Privacy.kAnonymize(
        Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey", "c_mktsegment"),
        Seq("c_nationkey", "c_mktsegment"), k = 12)
      .select("c_custkey", "c_nationkey", "c_mktsegment",
        "group_size", "suppressed")
  val q135Sql: String = """
    WITH g AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS group_size
      FROM customer)
    SELECT c_custkey,
      CASE WHEN group_size >= 12 THEN c_nationkey END AS c_nationkey,
      CASE WHEN group_size >= 12 THEN c_mktsegment END AS c_mktsegment,
      group_size, group_size < 12 AS suppressed
    FROM g"""

  // ————————————————————————— OHLC downsampling bars (q136)
  // (per (event_type, hour) open/high/low/close via partial-aggregable
  //  min_by/max_by over struct(ts, event_id) — ONE map-side-combined
  //  aggregation, no window sort; the oracle re-derives open/close with
  //  rank-1 rows under the identical (ts, event_id) order)
  val q136OhlcBars: Q = (s, dir) =>
    graft.ops.TimeSeries.ohlcBars(Tables.events(s, dir), "event_type", "ts",
        "value", "event_id")
      .withColumnRenamed("k", "event_type")
  val q136Sql: String = """
    WITH r AS (SELECT event_type, year(ts) AS y, month(ts) AS m,
        day(ts) AS d, hour(ts) AS h, value,
        row_number() OVER (PARTITION BY event_type, year(ts), month(ts),
          day(ts), hour(ts) ORDER BY ts, event_id) AS rna,
        row_number() OVER (PARTITION BY event_type, year(ts), month(ts),
          day(ts), hour(ts) ORDER BY ts DESC, event_id DESC) AS rnd
      FROM events)
    SELECT event_type, y, m, d, h,
      max(CASE WHEN rna = 1 THEN value END) AS open,
      max(value) AS high, min(value) AS low,
      max(CASE WHEN rnd = 1 THEN value END) AS close,
      count(*) AS n
    FROM r GROUP BY 1, 2, 3, 4, 5"""

  // ————————————————————————— equi-depth binning (q137)
  // (decile buckets of l_extendedprice in exact cent space, boundaries =
  //  FLOORED exact percentiles — q118's discipline — bin assignment a
  //  pure integer comparison sum; per-bin count/min/max; never ntile's
  //  global sort)
  val q137EquiDepthBins: Q = (s, dir) =>
    graft.ops.Analytics.equiDepthBins(
      Tables.lineitem(s, dir).select("l_extendedprice"),
      "l_extendedprice", nBins = 10)
  val q137Sql: String = """
    WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cv
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
    b AS (SELECT
        CAST(floor(quantile_cont(cv, 0.1)) AS BIGINT) AS b1,
        CAST(floor(quantile_cont(cv, 0.2)) AS BIGINT) AS b2,
        CAST(floor(quantile_cont(cv, 0.3)) AS BIGINT) AS b3,
        CAST(floor(quantile_cont(cv, 0.4)) AS BIGINT) AS b4,
        CAST(floor(quantile_cont(cv, 0.5)) AS BIGINT) AS b5,
        CAST(floor(quantile_cont(cv, 0.6)) AS BIGINT) AS b6,
        CAST(floor(quantile_cont(cv, 0.7)) AS BIGINT) AS b7,
        CAST(floor(quantile_cont(cv, 0.8)) AS BIGINT) AS b8,
        CAST(floor(quantile_cont(cv, 0.9)) AS BIGINT) AS b9
      FROM c),
    a AS (SELECT cv, CAST(
        CASE WHEN cv >= b1 THEN 1 ELSE 0 END + CASE WHEN cv >= b2 THEN 1 ELSE 0 END
        + CASE WHEN cv >= b3 THEN 1 ELSE 0 END + CASE WHEN cv >= b4 THEN 1 ELSE 0 END
        + CASE WHEN cv >= b5 THEN 1 ELSE 0 END + CASE WHEN cv >= b6 THEN 1 ELSE 0 END
        + CASE WHEN cv >= b7 THEN 1 ELSE 0 END + CASE WHEN cv >= b8 THEN 1 ELSE 0 END
        + CASE WHEN cv >= b9 THEN 1 ELSE 0 END AS BIGINT) AS bin
      FROM c, b)
    SELECT bin, count(*) AS n, min(cv) AS lo_cv, max(cv) AS hi_cv
    FROM a GROUP BY 1"""

  // ————————————————————————— last-touch attribution (q142)
  // (each purchase credits the user's latest strictly-preceding click
  //  inside a 7-day window — one per-user window sort shared by both
  //  ignore-nulls carries; the exclusive −1 bound keeps a conversion
  //  from attributing to itself under a shared timestamp)
  val q142Attribution: Q = (s, dir) =>
    graft.ops.Analytics.lastTouchAttribution(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type",
      convType = "purchase", touchType = "click",
      windowUs = 7L * 24 * 3600 * 1000000)
  val q142Sql: String = """
    WITH e AS (SELECT user_id, event_id, event_type AS et,
        epoch_us(ts) AS ts_us FROM events),
    w AS (SELECT *,
        last_value(CASE WHEN et = 'click' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_id,
        last_value(CASE WHEN et = 'click' THEN ts_us END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
      FROM e)
    SELECT event_id, user_id, ts_us, touch_id,
      ts_us - touch_ts AS gap_us,
      coalesce(ts_us - touch_ts <= 604800000000, false) AS attributed
    FROM w WHERE et = 'purchase'"""

  // ————————————————————————— per-user OLS value trend (q146)
  // (closed-form normal equations over exact integer sums: x = seconds
  //  since the user's first event — per-key re-basing keeps every
  //  cross-product far inside BIGINT — y = exact cents; ONE double
  //  division at the end; single-timestamp users → null slope)
  val q146TrendOls: Q = (s, dir) =>
    graft.ops.Analytics.trendOls(Tables.events(s, dir), "user_id", "ts", "value")
  val q146Sql: String = """
    WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS tsec,
                 CAST(round(value * 100) AS BIGINT) AS y FROM events),
    x AS (SELECT user_id, tsec - min(tsec) OVER (PARTITION BY user_id) AS x, y
          FROM e),
    a AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
            sum(x * y) AS sxy, sum(x * x) AS sxx FROM x GROUP BY 1)
    SELECT user_id, n,
      CASE WHEN n * sxx - sx * sx > 0 THEN
        round(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope_cents_per_sec
    FROM a"""

  // ————————————————————————— CUSUM changepoint locator (q156)
  // (peak |n·Σ_{j≤i} y − i·S| per user — the level-shift statistic with
  //  the mean never materialized as a float; one per-user sort shared
  //  by the cumulative walk and the argmax ranking)
  val q156Cusum: Q = (s, dir) =>
    graft.ops.Analytics.cusumChangepoint(Tables.events(s, dir),
      "user_id", "ts", "value")
  val q156Sql: String = """
    WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
                 CAST(round(value * 100) AS BIGINT) AS y FROM events),
    c AS (SELECT k, us, y,
            CAST(count(*) OVER (PARTITION BY k ORDER BY us, y
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS i,
            CAST(sum(y) OVER (PARTITION BY k ORDER BY us, y
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cy,
            CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
            CAST(sum(y) OVER (PARTITION BY k) AS BIGINT) AS s
          FROM e),
    d AS (SELECT k, us, abs(n * cy - i * s) AS dev, n,
            row_number() OVER (PARTITION BY k
              ORDER BY abs(n * cy - i * s) DESC, us, y) AS rn
          FROM c)
    SELECT k AS user_id, us AS at_us, CAST(dev AS BIGINT) AS cusum_scaled, n
    FROM d WHERE rn = 1"""

  // ————————————————————————— windowed multi-touch credit (q157)
  // (per conversion: touches in the strictly-preceding 7-day µs RANGE
  //  frame and the linear 1/k credit — the rolling-count shape with a
  //  type predicate, no self-join)
  val q157MultiTouch: Q = (s, dir) =>
    graft.ops.Analytics.multiTouchCredit(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type", "purchase", "click",
      windowUs = 7L * 86400 * 1000000)
  val q157Sql: String = """
    WITH e AS (SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
                 event_type AS et FROM events),
    w AS (SELECT k, id, us, et,
            CAST(sum(CASE WHEN et = 'click' THEN 1 ELSE 0 END)
              OVER (PARTITION BY k ORDER BY us
                RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS k_touches
          FROM e)
    SELECT k AS user_id, id, us AS ts_us, coalesce(k_touches, 0) AS k_touches,
      CASE WHEN k_touches > 0 THEN round(1.0 / CAST(k_touches AS DOUBLE), 6) END
        AS credit_each
    FROM w WHERE et = 'purchase'"""

  // ————————————————————————— dyadic EWMA smoothing (q160)
  // (α = 1/2 exponential smoothing truncated at 20 lags: weights 2^(20−k)
  //  over cent integers keep the weighted sum exact BIGINT; the weight
  //  mass actually present renormalizes short early histories; ONE final
  //  double division — 21 lag frames share a single per-user sort)
  val q160Ewma: Q = (s, dir) =>
    graft.ops.TimeSeries.ewmaDyadic(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", lags = 20)
      .withColumnRenamed("k", "user_id")
  val q160Sql: String = {
    val scaled = (0 to 20).map { k =>
      s"coalesce(lag(c, $k) OVER w * ${1L << (20 - k)}, 0)"
    }.mkString(" + ")
    val wsum = (0 to 20).map { k =>
      s"CASE WHEN lag(c, $k) OVER w IS NOT NULL THEN ${1L << (20 - k)} ELSE 0 END"
    }.mkString(" + ")
    s"""
    WITH e AS (SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
                 CAST(round(value * 100) AS BIGINT) AS c FROM events),
    l AS (SELECT k, id, us,
            CAST($scaled AS BIGINT) AS ewma_scaled,
            CAST($wsum AS BIGINT) AS w_sum
          FROM e WINDOW w AS (PARTITION BY k ORDER BY us, id))
    SELECT k AS user_id, id, us AS ts_us, ewma_scaled, w_sum,
      CASE WHEN w_sum > 0 THEN
        round(CAST(ewma_scaled AS DOUBLE) / CAST(w_sum AS DOUBLE), 6) END
        AS ewma_cents
    FROM l"""
  }

  // ————————————————————————— time-weighted average (q165)
  // (trapezoidal integration of each user's irregular value series:
  //  doubled areas (vᵢ+vᵢ₊₁)(tᵢ₊₁−tᵢ) sum as exact BIGINTs over whole
  //  seconds × cents; ONE final division by 2·span; single-observation
  //  users → null)
  val q165TimeWeightedAvg: Q = (s, dir) =>
    graft.ops.TimeSeries.timeWeightedAvg(Tables.events(s, dir),
      "user_id", "ts", "event_id", "value")
  val q165Sql: String = """
    WITH e AS (SELECT user_id AS k, epoch_us(ts) // 1000000 AS tsec,
                 event_id AS tie, CAST(round(value * 100) AS BIGINT) AS c
               FROM events),
    l AS (SELECT k, tsec, c,
            lag(tsec, 1) OVER w AS pt, lag(c, 1) OVER w AS pc
          FROM e WINDOW w AS (PARTITION BY k ORDER BY tsec, tie)),
    g AS (SELECT k, count(*) AS n,
            max(tsec) - min(tsec) AS span_s,
            CAST(sum(CASE WHEN pt IS NOT NULL
              THEN (c + pc) * (tsec - pt) ELSE 0 END) AS BIGINT) AS area2
          FROM l GROUP BY 1)
    SELECT k AS user_id, n, span_s,
      CASE WHEN span_s > 0 THEN
        round(CAST(area2 AS DOUBLE) / CAST(span_s * 2 AS DOUBLE), 6) END
        AS twa_cents
    FROM g"""

  val all: Map[String, Q] = Map(
    "q160_ewma" -> q160Ewma,
    "q165_twa" -> q165TimeWeightedAvg,
    "q156_cusum" -> q156Cusum,
    "q157_multi_touch" -> q157MultiTouch,
    "q146_trend_ols" -> q146TrendOls,
    "q142_attribution" -> q142Attribution,
    "q137_equidepth_bins" -> q137EquiDepthBins,
    "q134_snapshot_diff" -> q134SnapshotDiff,
    "q135_k_anonymize" -> q135KAnonymize,
    "q136_ohlc_bars" -> q136OhlcBars,
    "q01_hourly_agg" -> q01HourlyAgg,
    "q02_pricing_summary" -> q02PricingSummary,
    "q03_revenue_by_nation" -> q03RevenueByNation,
    "q04_customers_no_orders" -> q04CustomersNoOrders,
    "q05_big_spender_semi" -> q05BigSpenderSemi,
    "q06_upsert_keep_last" -> q06UpsertKeepLast,
    "q07_lag_gap" -> q07LagGap,
    "q08_sessionize" -> q08Sessionize,
    "q09_rolling_5min_count" -> q09Rolling5mCount,
    "q10_rolling_1h_avg" -> q10Rolling1hAvg,
    "q11_distinct_users" -> q11DistinctUsers,
    "q12_union_mixed" -> q12UnionMixed,
    "q13_top_lineitems" -> q13TopLineitems,
    "q14_value_bucket" -> q14ValueBucket,
    "q15_time_parts" -> q15TimeParts,
    "q16_sentinel_cast" -> q16SentinelCast,
    "q17_url_parse" -> q17UrlParse,
    "q33_top_orders_per_cust" -> q33TopOrdersPerCust,
    "q34_revenue_rollup" -> q34RevenueRollup,
    "q35_asof_join" -> q35AsOfJoin,
    "q84_range_join" -> q84RangeJoin,
    "q85_grouping_sets" -> q85GroupingSets,
    "q36_json_extract" -> q36JsonExtract,
    "q37_pivot" -> q37Pivot,
    "q38_explode" -> q38Explode,
    "q46_percentiles" -> q46Percentiles,
    "q47_cube" -> q47Cube,
    "q48_rank_family" -> q48RankFamily,
    "q51_collect_types" -> q51CollectTypes,
    "q52_date_math" -> q52DateMath,
    "q57_math_funcs" -> q57MathFuncs,
    "q105_gap_fill" -> q105GapFill,
    "q106_scd2" -> q106Scd2,
    "q107_funnel" -> q107Funnel,
    "q108_cohort" -> q108Cohort,
    "q110_cdc_apply" -> q110CdcApply,
    "q115_rolling_zscore" -> q115RollingZscore,
    "q116_incremental_rollup" -> q116IncrementalRollup,
    "q118_winsorize" -> q118Winsorize,
    "q119_kmv_setops" -> q119KmvSetops,
    "q121_session_transitions" -> q121Transitions,
    "q123_stream_rollup" -> q123StreamRollup,
    "q126_zorder" -> q126ZOrder,
    "q127_table_profile" -> q127TableProfile)

  val oracles: Map[String, String] = Map(
    "q01_hourly_agg" -> q01Sql,
    "q02_pricing_summary" -> q02Sql,
    "q03_revenue_by_nation" -> q03Sql,
    "q04_customers_no_orders" -> q04Sql,
    "q05_big_spender_semi" -> q05Sql,
    "q06_upsert_keep_last" -> q06Sql,
    "q07_lag_gap" -> q07Sql,
    "q08_sessionize" -> q08Sql,
    "q09_rolling_5min_count" -> q09Sql,
    "q10_rolling_1h_avg" -> q10Sql,
    "q11_distinct_users" -> q11Sql,
    "q12_union_mixed" -> q12Sql,
    "q13_top_lineitems" -> q13Sql,
    "q14_value_bucket" -> q14Sql,
    "q15_time_parts" -> q15Sql,
    "q16_sentinel_cast" -> q16Sql,
    "q17_url_parse" -> q17Sql,
    "q33_top_orders_per_cust" -> q33Sql,
    "q34_revenue_rollup" -> q34Sql,
    "q35_asof_join" -> q35Sql,
    "q84_range_join" -> q84Sql,
    "q85_grouping_sets" -> q85Sql,
    "q36_json_extract" -> q36Sql,
    "q37_pivot" -> q37Sql,
    "q38_explode" -> q38Sql,
    "q46_percentiles" -> q46Sql,
    "q47_cube" -> q47Sql,
    "q48_rank_family" -> q48Sql,
    "q51_collect_types" -> q51Sql,
    "q52_date_math" -> q52Sql,
    "q57_math_funcs" -> q57Sql,
    "q105_gap_fill" -> q105Sql,
    "q106_scd2" -> q106Sql,
    "q107_funnel" -> q107Sql,
    "q108_cohort" -> q108Sql,
    "q110_cdc_apply" -> q110Sql,
    "q115_rolling_zscore" -> q115Sql,
    "q116_incremental_rollup" -> q116Sql,
    "q118_winsorize" -> q118Sql,
    "q119_kmv_setops" -> q119Sql,
    "q121_session_transitions" -> q121Sql,
    "q123_stream_rollup" -> q123Sql,
    "q126_zorder" -> q126Sql,
    "q127_table_profile" -> q127Sql,
    "q134_snapshot_diff" -> q134Sql,
    "q135_k_anonymize" -> q135Sql,
    "q136_ohlc_bars" -> q136Sql,
    "q137_equidepth_bins" -> q137Sql,
    "q142_attribution" -> q142Sql,
    "q146_trend_ols" -> q146Sql,
    "q156_cusum" -> q156Sql,
    "q157_multi_touch" -> q157Sql,
    "q160_ewma" -> q160Sql,
    "q165_twa" -> q165Sql)
}
