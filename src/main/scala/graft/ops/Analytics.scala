package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics: ordered-step funnels within sessions and
  * cohort retention matrices — the two queries every event warehouse
  * runs daily, expressed engine-side so they inherit the windowing
  * discipline (one shuffle + one sort per key) of the sessionization
  * family.
  *
  * Everything is integer arithmetic on epoch µs/days/weeks — no float
  * crosses an engine boundary.
  */
object Analytics {

  /** Percentile aggregate selector for the q118/q137/q150 family: exact
    * sort-based `percentile` by default (the oracle contract — DuckDB
    * interpolates the same way over the same exact integers), or
    * `approx_percentile` with `1/accuracy` relative rank error when
    * `approxAccuracy = Some(accuracy)` — the 100 TB configuration, where
    * exact percentile's all-values-per-group aggregation state is the
    * memory ceiling and the KLL-style sketch is mergeable map-side
    * partial state like any other aggregate. `approx_percentile` returns
    * an actual element of the column (not an interpolation), so the
    * integer-space disciplines downstream (floored thresholds, doubled-
    * cent medians) hold unchanged under either selector.
    */
  private def pctl(c: Column, p: Double, approxAccuracy: Option[Int]): Column =
    approxAccuracy match {
      case Some(acc) => approx_percentile(c, lit(p), lit(acc))
      case None      => percentile(c, lit(p))
    }

  /** Gap-based session index per user (the q08/q31 semantics: a new
    * session starts when the µs gap to the previous event is ≥ `gapUs`).
    * Adds `_us` (event µs) and `sess` (0-based per-user session index).
    */
  private def sessionized(events: DataFrame, gapUs: Long): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("_us", "event_id")
    events
      .withColumn("_us", unix_micros(col("ts")))
      .withColumn("_new",
        when(lag("_us", 1).over(ord).isNull ||
          col("_us") - lag("_us", 1).over(ord) >= gapUs, 1L).otherwise(0L))
      .withColumn("sess",
        sum("_new").over(ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("_new")
  }

  /** Ordered three-step funnel within each session: the first `steps(0)`
    * event, the first `steps(1)` event strictly AFTER it, the first
    * `steps(2)` strictly after that. One row per session with nullable
    * epoch-ms step times — a later step is null whenever an earlier one
    * is (ordered-funnel semantics, not mere presence).
    *
    * Three chained projections over the SAME (user) partitioning — the
    * sort/exchange is planned once; step k's window min references step
    * k-1's value row-wise, which a single grouped aggregate cannot
    * express without re-joining.
    */
  def sessionFunnel(events: DataFrame, steps: Seq[String],
      gapUs: Long = 1800000000L): DataFrame = {
    require(steps.length == 3, "three-step funnel")
    val w = Window.partitionBy("user_id", "sess")
    val s = sessionized(events, gapUs)
      .withColumn("s1",
        min(when(col("event_type") === steps(0), col("_us"))).over(w))
      .withColumn("s2",
        min(when(col("event_type") === steps(1) && col("_us") > col("s1"),
          col("_us"))).over(w))
      .withColumn("s3",
        min(when(col("event_type") === steps(2) && col("_us") > col("s2"),
          col("_us"))).over(w))
    s.select(col("user_id"), col("sess"),
        expr("s1 div 1000").as("step1_ms"),
        expr("s2 div 1000").as("step2_ms"),
        expr("s3 div 1000").as("step3_ms"))
      .distinct()
  }

  /** Funnel latency percentiles — how LONG conversion takes, the
    * readout [[sessionFunnel]]'s step table leaves implicit: over
    * converted sessions (step 3 reached), exact type-1 percentiles of
    * end-to-end latency (smallest observed value whose cumulative
    * count reaches ⌈p·n/100⌉ — value-aligned from the distinct-value
    * cumulative frame, the q259 discipline; no interpolation, no
    * engine-divergent quantile_cont). One row per requested
    * percentile; zero conversions ⇒ empty.
    *
    * Scale: the funnel's one per-user sort, then a distinct-latency
    * cumulative frame (value-cardinality-bounded window).
    *
    * `toStep` picks the conversion depth measured (2 = step1→step2,
    * 3 = full funnel) — deep funnels can be empty on sparse streams
    * while the first transition still carries signal.
    */
  def funnelLatency(events: DataFrame, steps: Seq[String],
      toStep: Int = 3, pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100))
    require(toStep == 2 || toStep == 3)
    val spark = events.sparkSession
    import spark.implicits._
    val endCol = if (toStep == 3) "step3_ms" else "step2_ms"
    val lat = sessionFunnel(events, steps)
      .where(col(endCol).isNotNull)
      .select((col(endCol) - col("step1_ms")).as("lat_ms"))
    val byVal = lat.groupBy("lat_ms").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("lat_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = byVal.agg(sum("c").as("n_converted"))
    val ps = pcts.map(_.toLong).toDF("pct")
    broadcast(ps).crossJoin(broadcast(tot))
      .join(byVal, col("cum") >= expr("(pct * n_converted + 99) div 100"))
      .groupBy("pct", "n_converted")
      .agg(min("lat_ms").as("latency_ms"))
      .select(col("pct"), col("n_converted"), col("latency_ms"))
  }

  /** Cohort retention matrix: users grouped by the epoch-week of their
    * first event; one row per (cohort_week, week_offset) with the count
    * of distinct cohort users active that week. Weeks are epoch-aligned
    * (`µs → day → week` by integer division), offsets start at 0.
    *
    * Two shuffles total: first-event per user (map-side-combined min),
    * then the distinct-count per matrix cell; the matrix itself is
    * weeks² — tiny at any corpus scale.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val firsts = events
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts) div 86400000000 div 7")).as("cohort_week"))
    events
      .withColumn("wk", expr("unix_micros(ts) div 86400000000 div 7"))
      .join(firsts, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** First-order Markov transition matrix over event types within
    * sessions — "what do users do next": every adjacent event pair
    * inside a session (q08 gap semantics) is a transition; emits
    * (from_type, to_type, n_trans, prob) where prob is the row-
    * normalized transition probability. Session boundaries break
    * chains — the last event of a session transitions nowhere.
    *
    * prob is one exact-integer division rounded to 6 d.p.; everything
    * upstream is integer. Plan: the sessionization exchange + one more
    * `lead` sharing the per-(user, session) sort, then a types²-sized
    * aggregate — nothing downstream of the window scales with the
    * corpus.
    */
  def sessionTransitions(events: DataFrame,
      gapUs: Long = 1800000000L): DataFrame = {
    val s = sessionized(events, gapUs)
    val w = Window.partitionBy("user_id", "sess").orderBy("_us", "event_id")
    val pairs = s
      .withColumn("to_type", lead("event_type", 1).over(w))
      .where(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val c = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_trans"))
    val tot = c.groupBy("from_type").agg(sum("n_trans").as("_ct"))
    c.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("n_trans"),
        round(col("n_trans").cast("double") / col("_ct"), 6).as("prob"))
  }

  /** Partial hourly stats — the mergeable half of incremental rollup
    * maintenance. Emits one row per (user_id, hourly bucket) with the
    * commutative-monoid state (count, sum, min, max) a stored rollup
    * table carries: values scaled to exact integer millis so partials
    * merge without float drift, null user/ts rows dropped (group
    * semantics are per-key, the A1 discipline).
    *
    * This is the at-scale pattern for "the rollup must not rescan
    * 100 TB when today's partition lands": persist these partials per
    * ingest batch, [[mergePartialStats]] them with the stored state
    * (cost ∝ touched groups, not history), [[finalizeStats]] only at
    * read time.
    */
  def partialHourlyStats(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("b"),
        round(col("value") * 1000).cast("long").as("v"))
      .groupBy("user_id", "b")
      .agg(count(lit(1)).as("cnt"), sum("v").as("s"),
        min("v").as("mn"), max("v").as("mx"))

  /** Merge partial-stats tables (stored rollup state + a new batch's
    * partials): one map-side-combined aggregate re-folding the monoid.
    * Associative + commutative by construction, so any merge tree —
    * per-batch, per-day, binary — yields identical state.
    */
  def mergePartialStats(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty)
    parts.reduce(_ unionByName _)
      .groupBy("user_id", "b")
      .agg(sum("cnt").as("cnt"), sum("s").as("s"),
        min("mn").as("mn"), max("mx").as("mx"))
  }

  /** Read-time finalization of merged state: bucket start ms, count,
    * exact milli sum/min/max, and the mean (one exact-integer division,
    * 6 d.p. round). The only float in the family, produced at the edge.
    */
  def finalizeStats(partials: DataFrame): DataFrame =
    partials.select(col("user_id"), (col("b") * 3600000L).as("bucket_ms"),
      col("cnt"), col("s").as("sum_mv"), col("mn").as("min_mv"),
      col("mx").as("max_mv"),
      round(col("s").cast("double") / col("cnt"), 6).as("mean_mv"))

  /** Per-group winsorization — the outlier clamp feature pipelines apply
    * before normalizing a numeric column: values are clamped to the
    * group's [pLo, pHi] exact percentiles. Returns one row per group:
    * the floor-integer cent thresholds, how many values each side
    * clamped, and the winsorized mean.
    *
    * Integer discipline: values are scaled to exact cents first, and the
    * interpolated percentile is FLOORED to an integer threshold — round
    * would sit on half-ulp boundaries where engines may disagree, floor
    * never does (both sides interpolate `lo + (hi−lo)·frac` over the
    * same exact integers). Clamping, counting, and summing then happen
    * in exact integer space; the mean is one division at the edge.
    *
    * Plan: two grouped passes — thresholds first (exact sort-based
    * `percentile` by default; `approxAccuracy` swaps in the
    * `approx_percentile` sketch with bounded rank error — the 100 TB
    * path, see [[pctl]]), then the group-sized threshold table
    * broadcasts back onto the cents stream for the clamped aggregate;
    * the clamp algebra is identical under either selector.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95,
      approxAccuracy: Option[Int] = None): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, "need 0 <= pLo < pHi <= 1")
    val cents = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 100).cast("long").as("c"))
    approxAccuracy match {
      case Some(_) => // approx_percentile has no frequency form: row path
        val thresholds = cents.groupBy("g").agg(
          floor(pctl(col("c"), pLo, approxAccuracy)).cast("long").as("p_lo_c"),
          floor(pctl(col("c"), pHi, approxAccuracy)).cast("long").as("p_hi_c"))
        cents.join(thresholds, Seq("g"))
          .groupBy(col("g").as(groupCol))
          .agg(first("p_lo_c").as("p_lo_c"), first("p_hi_c").as("p_hi_c"),
            count(lit(1)).as("n"),
            sum(when(col("c") < col("p_lo_c"), 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("c") > col("p_hi_c"), 1L).otherwise(0L)).as("n_hi"),
            round(sum(greatest(least(col("c"), col("p_hi_c")), col("p_lo_c")))
              .cast("double") / count(lit(1)), 6).as("wins_mean_c"))
      case None =>
        // Exact path: ONE data-sized pass builds the (g, cent) frequency
        // histogram; `percentile(c, p, f)` aggregates the SAME
        // value→count state the row form builds internally, so every
        // threshold is bit-identical — but the thresholds pass, the
        // clamp pass, and the re-scan the lazy plan paid per reference
        // all collapse onto the histogram (domain-bounded: distinct
        // cents, never row count — round-15, guide §2.3 aggregate-first).
        // pinned spread: the histogram is small in bytes but feeds the
        // exact-percentile partials — AQE-coalesced to one partition the
        // state build runs single-threaded (round-15)
        val hist = cents.groupBy("g", "c").agg(count(lit(1)).as("f"))
          .repartition(df.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt)
          .localCheckpoint(false)
        val thresholds = hist.groupBy("g").agg(
          floor(percentile(col("c"), lit(pLo), col("f")))
            .cast("long").as("p_lo_c"),
          floor(percentile(col("c"), lit(pHi), col("f")))
            .cast("long").as("p_hi_c"))
        // broadcast contract (round-16 ADVICE): `thresholds` is ONE ROW
        // PER GROUP — the hint assumes groupCol cardinality stays in the
        // dimension class (segments/cohorts, ≪ 10⁸). A caller grouping
        // by a data-sized key must pass approxAccuracy (the row path,
        // no forced broadcast) or drop the hint.
        hist.join(broadcast(thresholds), Seq("g"))
          .groupBy(col("g").as(groupCol))
          .agg(first("p_lo_c").as("p_lo_c"), first("p_hi_c").as("p_hi_c"),
            sum("f").as("n"),
            sum(when(col("c") < col("p_lo_c"), col("f")).otherwise(0L))
              .as("n_lo"),
            sum(when(col("c") > col("p_hi_c"), col("f")).otherwise(0L))
              .as("n_hi"),
            round(sum(greatest(least(col("c"), col("p_hi_c")), col("p_lo_c"))
              * col("f")).cast("double") / sum("f"), 6).as("wins_mean_c"))
    }
  }

  /** Last-touch attribution: each conversion event credits the latest
    * touch event strictly before it by the same user, when that touch
    * falls inside the attribution window. The marketing/causal-credit
    * primitive; also the generic "latest preceding event of type X"
    * stitch.
    *
    * One window per user ordered by (ts, id) — the q07/q08 exchange —
    * with `last(..., ignoreNulls)` over `(unbounded, −1)` carrying the
    * most recent touch forward; the exclusive upper bound keeps a
    * conversion from attributing to itself under a shared timestamp.
    * Times surface as epoch-µs integers (the q107 discipline).
    */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, convType: String, touchType: String,
      windowUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("et") === touchType
    events
      .select(col(userCol).as("user_id"), col(idCol).as("event_id"),
        col(typeCol).as("et"), unix_micros(col(tsCol)).as("ts_us"))
      .withColumn("touch_id",
        last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("touch_ts_us",
        last(when(isTouch, col("ts_us")), ignoreNulls = true).over(w))
      .where(col("et") === convType)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("touch_id"), (col("ts_us") - col("touch_ts_us")).as("gap_us"),
        coalesce(col("ts_us") - col("touch_ts_us") <= windowUs, lit(false))
          .as("attributed"))
  }

  /** Equi-depth (equal-frequency) binning: `nBins` buckets bounded by the
    * exact `i/nBins` percentiles of `valueCol`, returned as per-bin
    * (count, min, max) — the histogram/feature-bucketing primitive.
    *
    * The [[winsorizedStats]] float discipline: values move to exact cent
    * space, boundaries are FLOORED percentiles (never half-ulp
    * interpolation ties), and `bin = Σ [cv ≥ bᵢ]` is pure integer
    * comparison — any engine reproduces the assignment bit-for-bit.
    *
    * Plan: one percentile aggregate (exact by default; `approxAccuracy`
    * swaps in the `approx_percentile` sketch — the drop-in at 100 TB,
    * where an exact percentile's all-values state is the memory
    * ceiling), the 1-row boundary frame broadcast back, then one
    * map-side-combined aggregation on the bin id. Never a global sort —
    * `ntile` would give the same buckets at the price of one
    * total-order sort.
    */
  def equiDepthBins(df: DataFrame, valueCol: String, nBins: Int,
      approxAccuracy: Option[Int] = None): DataFrame = {
    require(nBins >= 2 && nBins <= 100)
    val c = df.where(col(valueCol).isNotNull)
      .select(round(col(valueCol) * 100).cast("long").as("cv"))
    val ps = (1 until nBins).map(i => s"${i.toDouble / nBins}")
    // NOTE (round-15): a (cv, count) histogram variant of the exact path
    // (percentile-with-frequency, the q150/q118 rewrite) was measured
    // SLOWER here — the boundary pass is already one global aggregate
    // with map-side partial state, so the histogram saves one narrow
    // scan but ADDS a data-sized exchange (near-unique cents barely
    // compress). The two-scan row shape stays.
    val pctlArr = approxAccuracy match {
      case Some(acc) => s"approx_percentile(cv, array(${ps.mkString(",")}), $acc)"
      case None      => s"percentile(cv, array(${ps.mkString(",")}))"
    }
    val bounds = c.agg(expr(pctlArr).as("_ps"))
      .select(transform(col("_ps"), b => floor(b).cast("long")).as("bs"))
    c.crossJoin(broadcast(bounds))
      .withColumn("bin", aggregate(col("bs"), lit(0L),
        (acc, b) => acc + when(col("cv") >= b, 1L).otherwise(0L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("cv").as("lo_cv"), max("cv").as("hi_cv"))
  }

  /** Robust per-group outlier detection by median absolute deviation —
    * the heavy-tail-safe alternative to z-scores (one whale order moves
    * a mean+stddev fence; the MAD fence doesn't move). Flags
    * `|x − median| > k·MAD`.
    *
    * Exactness: values in cent space; the median lives in DOUBLED cent
    * space (`m2 = percentile(2·c, 0.5)` — an even-n median averages two
    * even integers, so m2 is integer-valued and casts exactly), absolute
    * deviations are the exact integers `|2c − m2|`, and the MAD in
    * QUADRUPLED space (`mad4 = percentile(2·|2c − m2|, 0.5)`) is again
    * integer-valued. The fence `|x − med| > k·MAD` becomes
    * `2·k·dev2 > k·... ` — concretely `2·dev2·2 > k·mad4` for integer k:
    * pure BIGINT comparisons, no float boundary anywhere (the q118/q137
    * floored-percentile discipline taken one step further: not even the
    * boundary needs a floor).
    *
    * Plan: two percentile aggregates (exact by default — group-sized
    * state; `approxAccuracy` swaps in the `approx_percentile` sketch,
    * the 100 TB path, as q137 documents — under which m2/mad4 are
    * actual doubled/quadrupled-cent elements, so the integer fence
    * algebra below is still exact) and one map-side-combined count; the
    * deviations frame reuses the groups exchange.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 3, approxAccuracy: Option[Int] = None): DataFrame = {
    val cents = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 100).cast("long").as("c"))
    approxAccuracy match {
      case Some(_) => // approx_percentile has no frequency form: row path
        val med = cents.groupBy("g")
          .agg(pctl(col("c") * 2, 0.5, approxAccuracy).cast("long").as("m2"))
        val dev = cents.join(med, Seq("g"))
          .withColumn("dev2", abs(col("c") * 2 - col("m2")))
        val mad = dev.groupBy("g")
          .agg(pctl(col("dev2") * 2, 0.5, approxAccuracy).cast("long")
            .as("mad4"))
        dev.join(mad, Seq("g"))
          .groupBy(col("g").as(groupCol))
          .agg(first("m2").as("med_c2"), first("mad4").as("mad_c4"),
            count(lit(1)).as("n"),
            sum(when(col("dev2") * 2 * 2 > lit(k.toLong) * col("mad4"), 1L)
              .otherwise(0L)).as("n_outliers"))
      case None =>
        // Exact path: both medians and the fence count run over the
        // (g, cent) frequency histogram — ONE data-sized pass instead of
        // the four scans the lazy med→dev→mad→count chain re-ran
        // (round-15, guide §2.3). `percentile(x, 0.5, f)` aggregates
        // the identical value→count state as the row form, so m2/mad4
        // are bit-identical; deviations collapse duplicates further
        // (|2c − m2| is many-to-one), counts ride as weights.
        // pinned spread — same rationale as winsorizedStats (round-15)
        val hist = cents.groupBy("g", "c").agg(count(lit(1)).as("f"))
          .repartition(df.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt)
          .localCheckpoint(false)
        // broadcast contract (round-16 ADVICE): med/mad are ONE ROW PER
        // GROUP — same dimension-class cardinality assumption as
        // winsorizedStats' thresholds broadcast; data-sized group keys
        // belong on the approxAccuracy row path.
        val med = hist.groupBy("g")
          .agg(percentile(col("c") * 2, lit(0.5), col("f"))
            .cast("long").as("m2"))
        val dev = hist.join(broadcast(med), Seq("g"))
          .withColumn("dev2", abs(col("c") * 2 - col("m2")))
        val mad = dev.groupBy("g")
          .agg(percentile(col("dev2") * 2, lit(0.5), col("f"))
            .cast("long").as("mad4"))
        dev.join(broadcast(mad), Seq("g"))
          .groupBy(col("g").as(groupCol))
          .agg(first("m2").as("med_c2"), first("mad4").as("mad_c4"),
            sum("f").as("n"),
            sum(when(col("dev2") * 2 * 2 > lit(k.toLong) * col("mad4"),
              col("f")).otherwise(0L)).as("n_outliers"))
    }
  }

  /** Rate limiting / throttle: keep the FIRST event per (key, fixed
    * window) and count what was suppressed — dedup-by-time-bucket, the
    * notification-throttle / at-most-once-per-hour primitive.
    *
    * Deliberately an AGGREGATE, not a window function — and a HASH
    * aggregate specifically: the natural `min(struct(us, id))` is
    * correct but falls back to SortAggregate (struct min isn't
    * hash-aggregable; `.explain` showed Sort + partial SortAggregate),
    * so the (us, id) arg-min is PACKED into one `decimal(38,0)` —
    * `us·10¹² + id` — whose `min` hash-aggregates with map-side
    * combine: every partition shrinks to one row per live (key, bucket)
    * before the shuffle, no sort anywhere. The equivalent
    * `row_number() = 1` would pay a full partition sort AND ship every
    * row. Unpacking is exact integral arithmetic. Contract: `0 ≤ id <
    * 10¹²` and `ts ≥ epoch` — the packing is injective and
    * order-preserving exactly there.
    */
  def rateLimitFirstPerWindow(events: DataFrame, keyCol: String,
      tsCol: String, idCol: String, windowUs: Long): DataFrame = {
    require(windowUs > 0)
    events
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"))
      // enforce the packing contract at row level: outside it the
      // decimal decode silently yields a WRONG id/first_us, so a
      // violating row must fail the job by name instead (the require()
      // discipline, lifted into the scan since the bound is data-driven)
      .withColumn("id", when(col("id").isNull || col("id") < 0L
          || col("id") >= 1000000000000L,
        raise_error(concat(
          lit("rateLimitFirstPerWindow: id outside [0, 1e12): "),
          col("id").cast("string")))).otherwise(col("id")))
      .withColumn("us", when(col("us") < 0L,
        raise_error(concat(
          lit("rateLimitFirstPerWindow: ts before epoch: "),
          col("us").cast("string")))).otherwise(col("us")))
      .withColumn("bucket_us", expr(s"(us div ${windowUs}L) * ${windowUs}L"))
      .groupBy("key", "bucket_us")
      .agg(min(col("us").cast("decimal(38,0)") * lit(1000000000000L)
          + col("id")).as("_packed"),
        count(lit(1)).as("n_in_window"))
      .select(col("key").as(keyCol), col("bucket_us"),
        expr("CAST(_packed % 1000000000000 AS BIGINT)").as(idCol),
        expr("CAST(_packed div 1000000000000 AS BIGINT)").as("first_us"),
        col("n_in_window"),
        (col("n_in_window") - 1L).as("n_suppressed"))
  }

  /** Data-quality column profile — the "what is actually in this table"
    * report a pipeline runs before trusting a new drop: one row per
    * profiled column with row/null/distinct counts and the length
    * distribution of the STRING RENDERING (cast to string first, so one
    * schema covers heterogeneous column types; numeric renderings are
    * deterministic on both engines for integers — profile numeric
    * DISTRIBUTIONS with the percentile family instead).
    *
    * Plan shape: ONE scan computes every column's six aggregates
    * side-by-side (Catalyst prunes to exactly the profiled columns),
    * then a literal `stack` unpivots the 1×6k row — no per-column
    * rescans, no shuffle beyond the single aggregate's combine. At
    * 100 TB this is the cheapest full-table pass there is: all state
    * is O(columns), except `count_distinct`'s exact per-column hash
    * sets — swap [[Sketches.hllDistinct]] in per column when exactness
    * stops being worth the memory.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    // index-based internal aliases + backtick-quoted source references:
    // a profiled column named with dots/spaces/hyphens must neither
    // break the stack() parse nor mis-resolve as a struct path
    def q(c: String) = col("`" + c.replace("`", "``") + "`")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val s = q(c).cast("string")
      Seq(count(lit(1)).as(s"_c${i}_n"),
        sum(when(q(c).isNull, 1L).otherwise(0L)).as(s"_c${i}_nulls"),
        countDistinct(q(c)).as(s"_c${i}_distinct"),
        min(length(s)).as(s"_c${i}_minlen"),
        max(length(s)).as(s"_c${i}_maxlen"),
        sum(coalesce(length(s).cast("long"), lit(0L))).as(s"_c${i}_sumlen"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.zipWithIndex.map { case (c, i) =>
      s"'${c.replace("'", "''")}', _c${i}_n, _c${i}_nulls, _c${i}_distinct, " +
        s"CAST(_c${i}_minlen AS BIGINT), CAST(_c${i}_maxlen AS BIGINT), " +
        s"_c${i}_sumlen"
    }.mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stackArgs) AS " +
      "(col_name, n_rows, n_nulls, n_distinct, min_len, max_len, sum_len)"))
  }

  /** PROFILE DRIFT gate between two snapshots of the same table — the
    * schema/distribution regression check a daily ingest runs before
    * publishing: joins two [[columnProfile]] outputs per column and
    * emits the shift in null rate and distinct ratio (both as exact
    * floored-ppm integers on each side, then a signed delta) plus the
    * string-length envelope deltas; `drifted` flags any column whose
    * null-rate or distinct-ratio moved more than `thresholdPpm`.
    * Everything is integer — two one-pass profiles joined on a
    * column-count-sized frame, nothing data-sized after the profile
    * aggregates.
    */
  def profileDrift(oldDf: DataFrame, newDf: DataFrame, cols: Seq[String],
      thresholdPpm: Long = 50000): DataFrame = {
    def side(df: DataFrame, tag: String) =
      columnProfile(df, cols).select(col("col_name"),
        col("n_rows").as(s"n_rows_$tag"),
        expr("(1000000 * n_nulls) div n_rows").as(s"null_ppm_$tag"),
        expr("(1000000 * n_distinct) div n_rows").as(s"distinct_ppm_$tag"),
        col("min_len").as(s"min_len_$tag"), col("max_len").as(s"max_len_$tag"))
    side(oldDf, "old").join(side(newDf, "new"), "col_name")
      .withColumn("null_dppm", col("null_ppm_new") - col("null_ppm_old"))
      .withColumn("distinct_dppm",
        col("distinct_ppm_new") - col("distinct_ppm_old"))
      .withColumn("min_len_delta", col("min_len_new") - col("min_len_old"))
      .withColumn("max_len_delta", col("max_len_new") - col("max_len_old"))
      .withColumn("drifted",
        abs(col("null_dppm")) > thresholdPpm ||
          abs(col("distinct_dppm")) > thresholdPpm)
  }

  /** Two-proportion A/B z-test over per-user conversion — the
    * experiment-analysis primitive (did arm B convert better than arm
    * A, and is the lift noise?). Arms come from the md5 split lattice
    * (`Sampling.hashBucket` < 50 → A), conversion = the user emitted at
    * least one `convType` event.
    *
    * Exact BIGINT counts; the z statistic's doubles evaluate in ONE
    * fixed-order expression (pooled p̂, then the standard error, then
    * the single division — mirrored token-for-token by the oracle),
    * 6 d.p. Plan: one distinct-user aggregate (map-side partial), one
    * 1-row final combine; nothing keyed by event volume survives the
    * first aggregate.
    */
  def abTestZ(events: DataFrame, userCol: String, typeCol: String,
      convType: String): DataFrame = {
    val users = events
      .groupBy(col(userCol).as("u"))
      .agg(max(when(col(typeCol) === convType, 1L).otherwise(0L)).as("conv"))
      .withColumn("arm",
        when(Sampling.hashBucket(col("u")) < 50, "A").otherwise("B"))
    val agg = users.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    agg.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      when(se > 0, round((pb - pa) / se, 6)).as("z"))
  }

  /** Source-imbalance report: per-group share and the Gini coefficient
    * of the group-size distribution — the "is this corpus dominated by
    * one source" number a training-mix audit leads with. Gini from the
    * sorted-cumulative identity `G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n`
    * (i = 1-based rank by ascending size, group name breaking ties).
    *
    * Exact integer Σᵢ i·xᵢ and Σx; the final expression is two double
    * divisions in fixed order, 6 d.p. Plan: one map-side-combined count
    * to group cardinality, then a single-partition window over the
    * GROUP-CARDINALITY frame (bounded by design, not by rows — same
    * shape as q94's report rollup).
    */
  def giniShares(df: DataFrame, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("x"))
    val ranked = sizes.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("g"))))
    val agg = ranked.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum(col("i") * col("x")).as("six"),
      max("x").as("max_x"))
    agg.select(col("n"), col("sx"),
      round(lit(2.0) * col("six").cast("double")
          / (col("n") * col("sx")).cast("double")
        - (col("n") + 1).cast("double") / col("n").cast("double"), 6).as("gini"),
      round(col("max_x").cast("double") / col("sx").cast("double"), 6)
        .as("top_share"))
  }

  /** Functional-dependency / candidate-key audit — the schema-quality
    * report behind "is doc_id actually a key?" and "does source
    * determine lang?": for each declared FD `lhs → rhs`, count the lhs
    * groups whose rhs is not unique. A candidate key is the special
    * case FD(key → anything) with zero violations. Null rhs rows are
    * ignored (SQL `count(DISTINCT rhs)` semantics — a null can't
    * witness a violation); null LHS values form their own group
    * (standard GROUP BY). Violation share in exact floored ppm.
    *
    * Plan: per FD, one map-side-partial DISTINCT over the (lhs, rhs)
    * pair set, one lhs-sized count aggregate, one 1-row rollup — no
    * `countDistinct` expand, no data-sized window. FDs are independent
    * scans (heterogeneous lhs defeats a shared exchange); each is
    * column-pruned to its own 2-3 columns at the parquet reader.
    */
  def fdAudit(df: DataFrame, fds: Seq[(Seq[String], String)]): DataFrame = {
    require(fds.nonEmpty)
    fds.map { case (lhs, rhs) =>
      val label = s"${lhs.mkString(",")}->$rhs"
      df.where(col(rhs).isNotNull)
        .select((lhs :+ rhs).map(col): _*).distinct()
        .groupBy(lhs.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_violating"),
          max("c").as("max_rhs_card"))
        .select(lit(label).as("fd"), col("n_groups"), col("n_violating"),
          when(col("n_groups") > 0,
            expr("(1000000 * n_violating) div n_groups")).as("viol_ppm"),
          col("max_rhs_card"), (col("n_violating") === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Two-sample Kolmogorov–Smirnov distance between value distributions
    * — the standard drift test between two corpora/snapshots (did the
    * document-length or price distribution shift?). ENTIRELY integer:
    * with counts c₁(v), c₂(v) cumulative over the merged value support,
    * `D = max |F₁ − F₂| = max |c₁·n₂ − c₂·n₁| / (n₁·n₂)` — numerator
    * and denominator exact BIGINTs (safe while n₁·n₂ < 2⁶³ ≈ 9·10¹⁸),
    * one final double division. Emits the argmax value too (lowest v
    * breaks ties) — WHERE the distributions diverge most.
    *
    * Plan: per-side map-side-combined value counts, one union re-agg,
    * then a single-partition cumulative window over the DISTINCT-VALUE
    * frame — bounded by value cardinality (cents of a bounded metric),
    * not row count; the 1-row totals broadcast back.
    */
  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def side(df: DataFrame, c1: Long, c2: Long) = df
      .filter(col(valueCol).isNotNull)
      .select(round(col(valueCol) * 100).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("n"))
      .select(col("v"), (col("n") * c1).as("c1"), (col("n") * c2).as("c2"))
    val merged = side(a, 1, 0).unionByName(side(b, 0, 1))
      .groupBy("v").agg(sum("c1").as("c1"), sum("c2").as("c2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = merged
      .withColumn("a1", sum("c1").over(w))
      .withColumn("a2", sum("c2").over(w))
    val tot = cum.agg(max("a1").as("n1"), max("a2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .withColumn("dev", abs(col("a1") * col("n2") - col("a2") * col("n1")))
      .orderBy(col("dev").desc, col("v")).limit(1)
      .select(col("n1"), col("n2"), col("v").as("at_v_c"), col("dev").as("d_num"),
        round(col("dev").cast("double") / (col("n1") * col("n2")).cast("double"), 6)
          .as("ks"))
  }

  /** Population Stability Index between a reference (old) and a current
    * (new) snapshot of a value distribution — the industry-standard
    * drift score for feature/score monitoring, complementing [[ksDrift]]
    * (KS finds the worst single point of divergence; PSI weighs the
    * whole shape). Bins are equi-depth ON THE REFERENCE side (floored
    * exact cent percentiles, the q137/q118 discipline), so "no drift"
    * means every bin holds ~1/nBins of the new mass too.
    *
    * PSI = Σ_b (p̂new(b) − p̂old(b)) · ln(p̂new(b)/p̂old(b)) with add-one
    * smoothing p̂(b) = (n_b+1)/(N+nBins) — keeps a new-side-empty bin
    * finite and is replayed verbatim by the oracle. (<0.1 calm, ≥0.2
    * investigate.) Exactness: counts are BIGINTs; the double enters
    * exactly once per bin — the smoothed ratio and its ln — and is
    * immediately pinned to integer MICRO-PSI units (round(term·1e6)),
    * so the total is an exact integer sum, immune to float accumulation
    * order (the cent/ppm discipline applied to an inherently-log
    * statistic).
    *
    * Plan: reference percentiles once (exact by default;
    * `approxAccuracy` swaps in the `approx_percentile` sketch — the
    * 100 TB path), the ≤99-long edge array broadcast to both sides, bin
    * counts map-side combined; the only window runs over the ≤nBins-row
    * aggregated frame. Nothing data-sized sorts or converges.
    */
  def psiDrift(oldDf: DataFrame, newDf: DataFrame, valueCol: String,
      nBins: Int = 10, approxAccuracy: Option[Int] = None): DataFrame = {
    require(nBins >= 2 && nBins <= 100)
    def cents(df: DataFrame) = df.where(col(valueCol).isNotNull)
      .select(round(col(valueCol) * 100).cast("long").as("cv"))
    val ps = (1 until nBins).map(i => s"${i.toDouble / nBins}")
    val pctlArr = approxAccuracy match {
      case Some(acc) => s"approx_percentile(cv, array(${ps.mkString(",")}), $acc)"
      case None      => s"percentile(cv, array(${ps.mkString(",")}))"
    }
    val bounds = cents(oldDf).agg(expr(pctlArr).as("_ps"))
      .select(transform(col("_ps"), b => floor(b).cast("long")).as("bs"))
    val tagged = cents(oldDf)
      .select(col("cv"), lit(1L).as("is_old"), lit(0L).as("is_new"))
      .unionByName(cents(newDf)
        .select(col("cv"), lit(0L).as("is_old"), lit(1L).as("is_new")))
    val counts = tagged.crossJoin(broadcast(bounds))
      .withColumn("bin", aggregate(col("bs"), lit(0L),
        (acc, b) => acc + when(col("cv") >= b, 1L).otherwise(0L)))
      .groupBy("bin")
      .agg(sum("is_old").as("n_old"), sum("is_new").as("n_new"))
    val wAll = Window.partitionBy() // ≤nBins-row aggregated frame — bounded
    val po = (col("n_old") + 1).cast("double")
      ./((col("t_old") + nBins).cast("double"))
    val pn = (col("n_new") + 1).cast("double")
      ./((col("t_new") + nBins).cast("double"))
    counts
      .withColumn("t_old", sum("n_old").over(wAll))
      .withColumn("t_new", sum("n_new").over(wAll))
      .withColumn("psi_term_e6",
        round((pn - po) * log(pn / po) * 1000000d).cast("long"))
      .withColumn("psi_e6", sum("psi_term_e6").over(wAll))
      .select(col("bin"), col("n_old"), col("n_new"),
        col("psi_term_e6"), col("psi_e6"))
  }

  /** Calibration / reliability table for a probabilistic scorer: rank
    * rows by score, cut into `nBins` equal-count bins, and compare each
    * bin's mean predicted score against its observed positive rate —
    * the model-eval staple (a well-calibrated bin predicts its own hit
    * rate). Scores arrive as 6 d.p. doubles (the q93 contract) and move
    * to EXACT ppm integers before any aggregation, so bin means are
    * integer sums with one final division — no float-accumulation-order
    * leak. Bin = `(rank−1)·nBins div n`: pure integer, rank ties broken
    * by id.
    *
    * Plan: the global rank over (score, id) is DECOMPOSED so no window
    * ever totally orders the data-sized frame. rank(ppm, id) =
    * offset(ppm) + row_number-within-ppm(id): the offsets come from a
    * cumulative count over the DISTINCT-ppm frame (≤1e6+1 rows for a
    * 6 d.p. score — value-cardinality-bounded, the ksDrift/q137
    * discipline), broadcast back; the within-value row_number is
    * hash-partitioned by ppm, so the only data-sized sort is per tie
    * group. This IS the 100 TB shape: bin edges effectively broadcast,
    * rows never converge on one partition.
    */
  def calibrationBins(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2)
    val scored = df.select(col(idCol).as("id"),
      round(col(scoreCol) * 1000000).cast("long").as("ppm"),
      when(col(labelCol), 1L).otherwise(0L).as("y"))
    // global start offset per distinct ppm value: exclusive cumulative
    // count over the aggregated frame (single partition, but bounded by
    // value cardinality, never row count)
    val cnts = scored.groupBy("ppm").agg(count(lit(1)).as("c"))
    val wOff = Window.orderBy("ppm")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cnts
      .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
      .select("ppm", "off")
    val total = scored.agg(count(lit(1)).as("n_all"))
    scored
      .join(broadcast(offsets), "ppm")
      .withColumn("rn", row_number().over(
        Window.partitionBy("ppm").orderBy("id")).cast("long"))
      .withColumn("r", col("off") + col("rn") - 1)
      .crossJoin(broadcast(total))
      // integer floor-division on both engines (a double-div + cast would
      // hit DuckDB's round-on-cast vs Spark's truncate-on-cast mismatch)
      .withColumn("bin", expr(s"(r * $nBins) div n_all"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(sum("ppm").cast("double") / count(lit(1)).cast("double") / 1000000.0,
          6).as("mean_score"),
        sum("y").as("n_pos"),
        round(sum("y").cast("double") / count(lit(1)).cast("double"), 6)
          .as("pos_rate"))
  }

  /** Grouped Spearman rank correlation with EXACT tie handling — the
    * monotonic-drift screen ("does this metric trend with time / with
    * that other metric") that Pearson misses under nonlinearity.
    * Average ranks on ties are carried DOUBLED (the groupAuc trick:
    * r₂ = 2·cum − c + 1 over the value-level cumulative, so tied
    * averages stay integral) and every sum is exact — per-row products
    * fit Long (≤ 4n²), the group sums widen to decimal(38,0) so even
    * n·Σ terms (≤ 4n⁴) never wrap. One double sqrt + one division at
    * the end: ρ = (n·Sxy − SxSy) / √((n·Sxx − Sx²)(n·Syy − Sy²)),
    * rounded to 6 d.p.; a constant column (zero variance) yields null,
    * not a fake 0.
    *
    * Plan: two value-level count frames with per-group cumulative
    * windows (bounded by value cardinality per group, the ksDrift
    * discipline), two rank join-backs on (group, value), one grouped
    * sum. No global windows, no collect.
    */
  def spearmanCorr(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(groupCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(groupCol).as("g"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
    def ranks(c: String) = {
      val w = Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.groupBy(col("g"), col(c).as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("r2", lit(2) * sum("c").over(w) - col("c") + 1)
        .select(col("g"), col("v"), col("r2"))
    }
    val rx = ranks("x").select(col("g").as("gx"), col("v").as("vx"),
      col("r2").as("rx"))
    val ry = ranks("y").select(col("g").as("gy"), col("v").as("vy"),
      col("r2").as("ry"))
    val rows = base
      .join(rx, col("g") === col("gx") && col("x") === col("vx"))
      .join(ry, col("g") === col("gy") && col("y") === col("vy"))
      .select(col("g"), col("rx"), col("ry"))
    rows.groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(dec)).as("sx"),
        sum(col("ry").cast(dec)).as("sy"),
        sum((col("rx") * col("ry")).cast(dec)).as("sxy"),
        sum((col("rx") * col("rx")).cast(dec)).as("sxx"),
        sum((col("ry") * col("ry")).cast(dec)).as("syy"))
      .select(col("g").as(groupCol), col("n"),
        when(
          (col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6)).as("rho"))
  }

  /** Per-key CUSUM changepoint locator: the index where the cumulative
    * deviation from the key's own mean peaks — the classic "when did
    * this series' level shift" statistic. Scale-free trick: with S = Σy
    * and n rows, `cusumᵢ·n = n·Σ_{j≤i} yⱼ − i·S` is EXACT BIGINT (the
    * mean never materializes as a float); the argmax of |·| with
    * (ts, id) tiebreak is then pure integer comparison. Emits the peak
    * location (epoch µs), the scaled deviation, and n.
    *
    * Plan: ONE per-key sort shared by the cumulative sum and the
    * argmax ranking (same partition key, Catalyst reuses the exchange;
    * the second window re-sorts within partitions only), group totals
    * ride the same window frame — no second scan, no join.
    */
  def cusumChangepoint(events: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val base = events.select(col(keyCol).as("k"),
      unix_micros(col(tsCol)).as("us"),
      round(col(valCol) * 100).cast("long").as("y"))
    val byK = Window.partitionBy("k")
    val ordered = byK.orderBy(col("us"), col("y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = byK.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = base
      .withColumn("i", count(lit(1)).over(ordered))
      .withColumn("cy", sum("y").over(ordered))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("s", sum("y").over(whole))
      .withColumn("dev", abs(col("n") * col("cy") - col("i") * col("s")))
    cum
      .withColumn("rn", row_number().over(
        byK.orderBy(col("dev").desc, col("us"), col("y"))))
      .where(col("rn") === 1)
      .select(col("k").as(keyCol), col("us").as("at_us"),
        col("dev").as("cusum_scaled"), col("n"))
  }

  /** Windowed multi-touch credit: for each conversion, the count of
    * touch events in the strictly-preceding attribution window and the
    * linear credit `1/k` each would receive — [[lastTouchAttribution]]'s
    * egalitarian sibling, in aggregate form (per-conversion k, not an
    * exploded pair list — the pair fan-out is a join the caller can
    * afford to skip). A µs RANGE frame `[ts−window, ts−1]` does the
    * counting in-window: one per-key sort, no self-join (the W3/W4
    * rolling-count shape with a type predicate).
    */
  def multiTouchCredit(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, convType: String, touchType: String,
      windowUs: Long): DataFrame = {
    val base = events.select(col(keyCol).as("k"), col(idCol).as("id"),
      unix_micros(col(tsCol)).as("us"), col(typeCol).as("et"))
    val w = Window.partitionBy("k").orderBy(col("us"))
      .rangeBetween(-windowUs, -1)
    base
      // an empty frame (no event in the window at all) sums to NULL, not
      // 0 — coalesce so "no touches" is one value, not two
      .withColumn("k_touches",
        coalesce(sum(when(col("et") === touchType, 1L).otherwise(0L)).over(w),
          lit(0L)))
      .where(col("et") === convType)
      .select(col("k").as(keyCol), col("id"), col("us").as("ts_us"),
        col("k_touches"),
        when(col("k_touches") > 0,
          round(lit(1.0) / col("k_touches").cast("double"), 6)).as("credit_each"))
  }

  /** Per-key ordinary-least-squares trend (is this user's / metric's
    * value drifting up or down, and how fast): slope of value-vs-time
    * from the closed-form normal equations,
    * `slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)`.
    *
    * Exactness: x = SECONDS since the key's own first event (the
    * per-key re-basing keeps x within the span of one key's activity,
    * so every sum and cross-product stays far inside exact BIGINT
    * range — raw epoch micros squared would overflow), y = value in
    * exact cents. All five sums are exact integers; the single double
    * division happens once at the end (q140 discipline), 6 d.p.
    * Constant-x keys (a single distinct timestamp → den = 0) yield a
    * null slope rather than a division blow-up.
    *
    * Scale shape: ONE exchange on the key feeds both the min-ts window
    * and the five-sum aggregation (same key ⇒ same partitioning,
    * Catalyst reuses it); the aggregation combines map-side. Cost is
    * linear in events, output linear in keys.
    */
  def trendOls(events: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col(keyCol).as("k"),
      expr(s"unix_micros(`$tsCol`) div 1000000").as("tsec"),
      round(col(valCol) * 100).cast("long").as("y"))
    val x = (col("tsec") - min(col("tsec")).over(Window.partitionBy("k"))).as("x")
    base.select(col("k"), x, col("y"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .select(col("k").as(keyCol), col("n"),
        when(col("den") > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / col("den").cast("double"), 6)).as("slope_cents_per_sec"))
  }

  /** Cumulative Poisson(1) CDF scaled to 2³² and floored — the integer
    * thresholds that turn a 32-bit md5 draw into a bootstrap weight with
    * ZERO floating comparisons (`weight = #{k : h ≥ t_k}`, capped at 8;
    * P(w > 8) < 10⁻⁶ — the truncation every Poisson-bootstrap
    * implementation makes somewhere, here made explicit and identical
    * in both engines).
    */
  val PoissonCdf32: Seq[Long] = Seq(1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L)

  /** Per-group bootstrap confidence interval for the mean, by the
    * POISSON bootstrap — the one-pass, partition-independent resampling
    * scheme (classic with-replacement resampling needs the group's n up
    * front and a shared random permutation; Poisson(1) weights per
    * (replicate, row) need neither, which is why it is the standard at
    * data-parallel scale). Deterministic: the weight for (replicate r,
    * row id) derives from an md5 draw against [[PoissonCdf32]] — both
    * engines replay the identical resample. Replicate means are exact
    * integer ratios rounded at 6 d.p.; the CI is an ORDER-STATISTIC over
    * the `reps` rounded means (ranks ⌈0.025·reps⌉+1 and ⌈0.975·reps⌉,
    * replicate index breaking ties) — no percentile interpolation to
    * disagree over.
    *
    * Scale shape (reworked round 8, re-reworked round 13 when the
    * suite's slowest row turned out to be PLAN cost, not data cost):
    * one md5 serves FOUR replicates (32 hex chars = four independent
    * 32-bit draws — draw r reads chars [8·(r mod 4)+1, 8] of
    * md5("boot|" + r div 4 + "|" + id)), and ALL `reps` weights for a
    * row come out of ONE native kernel call
    * ([[graft.functions.BootstrapWeights]]) as an array — the round-8
    * wide-aggregate form inlined the md5 subtree into 2·reps aggregate
    * columns, and at reps=64 that 129-field aggregate spent ~8 s in
    * analysis/codegen at sf0.1 and fell out of whole-stage codegen.
    * The weight array is `posexplode`d to (g, r, w, c) — a 64× fan-out
    * of four tiny fixed-width columns that map-side combine collapses
    * to groups×reps rows before the exchange, so the shuffle stays
    * O(groups·reps) no matter the row count. Replicates with zero
    * total weight (empty resample — only possible for tiny groups) are
    * dropped from the order statistic, `n_reps` reports how many
    * survived.
    */
  def poissonBootstrapCi(df: DataFrame, groupCol: String, idCol: String,
      valCol: String, reps: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(reps >= 8 && reps % 4 == 0,
      s"reps must be >= 8 and a multiple of 4 (4 draws per md5), got $reps")
    val base = df.select(col(groupCol).as("g"),
      graft.functions.BootstrapExpressions
        .bootstrapWeights(col(idCol).cast("string"), reps).as("w"),
      round(col(valCol).cast("double") * 100).cast("long").as("c"))
    val repMeans = base
      .select(col("g"), col("c"),
        posexplode(col("w")).as(Seq("r", "wt")))
      .groupBy("g", "r")
      .agg(sum(col("wt") * col("c")).as("swc"), sum("wt").as("swt"))
      .where(col("swt") > 0)
      .select(col("g"), col("r"),
        round(col("swc").cast("double") / col("swt").cast("double"), 6)
          .as("rm"))
    val wOrd = Window.partitionBy("g").orderBy(col("rm"), col("r"))
    val loRank = reps * 25 / 1000 + 1  // 2 at the default 64
    val hiRank = reps * 975 / 1000     // 62 at the default 64
    val ranked = repMeans
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("nr", count(lit(1)).over(Window.partitionBy("g")))
    val ci = ranked.groupBy("g").agg(
      max(when(col("rk") === least(lit(loRank), col("nr")), col("rm"))).as("ci_lo"),
      max(when(col("rk") === least(lit(hiRank), col("nr")), col("rm"))).as("ci_hi"),
      max("nr").as("n_reps"))
    val point = df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col(valCol).cast("double") * 100).cast("long"))
          .cast("double") / count(lit(1)).cast("double"), 6).as("mean_cents"))
    point.join(ci, Seq("g"))
      .select(col("g").as(groupCol), col("n"), col("mean_cents"),
        col("ci_lo"), col("ci_hi"), col("n_reps").cast("long").as("n_reps"))
  }

  /** Cross-source quantile normalization — the data-mixing step that
    * makes per-source scores COMPARABLE before mixture sampling: each
    * source's value distribution is mapped onto the pooled
    * distribution, so "top 10% within its source" means the same
    * normalized value everywhere regardless of how lenient one source's
    * scorer ran. Mapping is at (group, value) granularity: a value with
    * within-group cumulative rank r (its LAST tied row) maps to the
    * pooled order statistic at rank `((r−1)·N) div n_g + 1` — ties get
    * ONE normalized value (rows are never ranked individually), and the
    * arithmetic is all-integer, no interpolation floats to diverge.
    *
    * Scale shape (the ksDrift discipline, NOT q155's global row
    * window): every window runs over the DISTINCT-VALUE table — bounded
    * by value cardinality, not row count — and the pooled rank-range
    * table broadcasts into a range join. N is a driver-side bounded
    * scalar; `(r−1)·N` must stay in a long, so N is guarded at 3·10⁹
    * (switch the product to decimal beyond that).
    *
    * Returns `(group, v, n, t, norm_v)`: per group-value row count, the
    * pooled target rank, and the normalized value.
    */
  def quantileNormalize(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val nAll = vals.count() // bounded scalar (a count, not a collect)
    require(nAll < 3037000499L, // floor(sqrt(2^63 − 1))
      s"quantileNormalize: $nAll rows would overflow the long rank " +
      "product — lift the target-rank arithmetic to decimal first")
    val gv = vals.groupBy("g", "v").agg(count(lit(1)).as("n"))
    val wg = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumg = gv.withColumn("r", sum("n").over(wg))
    val ng = gv.groupBy("g").agg(sum("n").as("n_g"))
    val wp = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pooled = vals.groupBy("v").agg(count(lit(1)).as("n"))
      .withColumn("hi", sum("n").over(wp))
      .withColumn("lo", col("hi") - col("n") + 1)
      .select(col("v").as("norm_v"), col("lo"), col("hi"))
    cumg.join(ng, Seq("g"))
      .withColumn("t", expr(s"((r - 1) * ${nAll}L) div n_g + 1"))
      .join(broadcast(pooled),
        col("t") >= col("lo") && col("t") <= col("hi"))
      .select(col("g"), col("v"), col("n"), col("t"), col("norm_v"))
  }

  /** Benford first-digit profile — the classic fabricated-data screen
    * for financial/measurement columns: natural multi-magnitude
    * quantities follow P(d) = log₁₀(1 + 1/d); a synthesized column does
    * not. `valueExpr` must evaluate to a positive BIGINT (the caller
    * maps units — e.g. cents). Per digit 1–9: observed count, observed
    * share and expected share as floored ppm, and the signed deviation.
    * The expected shares are pinned integer constants (they sum to
    * exactly 1 000 000), so both engines compare identical integers —
    * no libm log₁₀ in the data path.
    *
    * Plan: one narrow projection (first digit of the decimal rendering)
    * + one 9-group aggregate + a broadcast of the 1-row total. Scan
    * bound at any SF.
    */
  def benfordProfile(df: DataFrame, valueExpr: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
      .zipWithIndex.map { case (ppm, i) => (i + 1L, ppm) }
      .toDF("digit", "expected_ppm")
    val digits = df.select(valueExpr.cast("long").as("v"))
      .where(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    expected.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("n_total"),
        expr("(1000000 * coalesce(n, 0)) div n_total").as("obs_ppm"),
        col("expected_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("expected_ppm"))
  }

  /** Gini impurity of a label under a categorical feature split — the
    * decision-tree / feature-selection criterion, computed in EXACT
    * floored-ppm arithmetic (Gini needs only ratios of squared counts,
    * so unlike entropy there is no logarithm to take on data). Per
    * feature value: Gini(Y|x) = 1e6 − (1e6·Σ_y n_xy²) div n_x², plus
    * one NULL-feature summary row carrying the PARENT impurity over the
    * same lattice — gain = parent − Σ n_x·child div n is one more
    * integer step for the caller. Two grouped aggregations riding the
    * feature⊕label key; value-level cardinality bounds everything after
    * the first shuffle.
    */
  def giniSplit(df: DataFrame, featureCol: String,
      labelCol: String): DataFrame = {
    val cell = df.groupBy(col(featureCol).as("x"), col(labelCol).as("y"))
      .agg(count(lit(1)).as("nxy"))
    // 1e6·Σn² wraps Long once a scope exceeds ~2e6 rows (1e6·n² >
    // Long.Max); fail by name instead of wrapping — the tCloseness
    // discipline (at larger n, widen the numerator to decimal)
    def guarded(d: DataFrame) = d.withColumn("n", when(col("n") > 2000000L,
      raise_error(lit("giniSplit: > 2e6 rows in one scope overflows the " +
        "exact ppm algebra — widen to decimal"))).otherwise(col("n")))
    val perX = guarded(cell.groupBy(col("x"))
      .agg(sum(col("nxy")).as("n"), sum(col("nxy") * col("nxy")).as("ss")))
      .select(col("x"), col("n"),
        (lit(1000000L) - expr("(1000000 * ss) div (n * n)")).as("gini_ppm"))
    val label = df.groupBy(col(labelCol).as("y")).agg(count(lit(1)).as("ny"))
    val parent = guarded(label
      .agg(sum(col("ny")).as("n"), sum(col("ny") * col("ny")).as("ss")))
      .select(lit("parent").as("scope"), lit(null).cast("string").as("x"),
        col("n"),
        (lit(1000000L) - expr("(1000000 * ss) div (n * n)")).as("gini_ppm"))
    // a `scope` discriminator, not a null sentinel in `x`: a null
    // FEATURE VALUE is legitimate data and must not collide with the
    // parent summary row
    perX.select(lit("value").as("scope"), col("x").cast("string").as("x"),
        col("n"), col("gini_ppm"))
      .unionByName(parent)
  }

  /** Exact weighted percentiles — the corpus-statistics verb where a
    * row's mass is its token/byte/price weight, not 1: per (group,
    * permille), the SMALLEST value whose cumulative weight reaches
    * `p·total/1000` (lower weighted percentile — an actual data value,
    * never an interpolation, so both engines agree bit-for-bit). The
    * cumulative window runs over the DISTINCT-value frame (q232's
    * discipline); permilles fan out over that aggregated frame only.
    * Weights must be positive — a zero/negative weight fails by name.
    */
  def weightedPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String,
      permilles: Seq[Int]): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles in [1, 1000]")
    val rows = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(weightCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"),
        when(col(weightCol) <= 0, expr(
          s"raise_error('weightedPercentiles: non-positive $weightCol')"))
          .otherwise(col(weightCol)).cast("long").as("wt"))
    val vals = rows.groupBy("g", "v").agg(sum("wt").as("w"))
    val win = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals.withColumn("cw", sum("w").over(win))
    val tot = vals.groupBy("g").agg(sum("w").as("tw"))
    val ps = permilles.distinct.sorted
      .map(p => lit(p.toLong)).toArray
    cum.join(tot, Seq("g"))
      .withColumn("permille", explode(array(ps: _*)))
      .where(col("cw") * 1000 >= col("permille") * col("tw"))
      .groupBy("g", "permille")
      .agg(min("v").as("value"), max("tw").as("total_w"))
      .select(col("g").as(groupCol), col("permille"), col("value"),
        col("total_w"))
  }

  /** Leave-one-out + smoothed target encoding — the categorical
    * feature-engineering verb for tabular training data. Per category:
    * `n`, positives; per ROW the leave-one-out rate excludes the row's
    * own label (the standard leakage defense: a category's encoding
    * must not memorize the row it encodes), and the m-smoothed rate
    * shrinks rare categories toward the global prior. All exact
    * floored ppm: `loo = 1e6·(pos − y) div (n − 1)` (null for
    * singletons — a 1-row category has NO leakage-safe encoding, and a
    * fake 0/prior would be silent leakage), `smoothed =
    * (1e6·pos + m·prior_ppm) div (n + m)`. One grouped aggregate + one
    * broadcast-back join (the hint is right while the category table is
    * dimension-sized; an ultra-high-cardinality feature would drop it
    * and take the shuffle join AQE picks). Nothing data-sized shuffles
    * twice.
    */
  def targetEncode(df: DataFrame, idCol: String, catCol: String,
      labelCol: String, m: Int = 20): DataFrame = {
    require(m >= 0, "m must be >= 0")
    val rows = df
      .filter(col(idCol).isNotNull && col(catCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(idCol).as("id"), col(catCol).as("cat"),
        col(labelCol).cast("long").as("y"))
      .withColumn("y", when(col("y") === 0L || col("y") === 1L, col("y"))
        .otherwise(expr("raise_error('targetEncode: label must be 0/1')")))
    val perCat = rows.groupBy("cat")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val prior = rows.agg(
      expr("(1000000 * sum(y)) div count(1)").as("prior_ppm"))
    val enriched = perCat.crossJoin(broadcast(prior))
      .withColumn("smoothed_ppm",
        expr(s"(1000000 * pos + $m * prior_ppm) div (n + $m)"))
    rows.join(broadcast(enriched), Seq("cat"))
      .select(col("id"), col("cat"), col("y"), col("n").as("cat_n"),
        when(col("n") > 1,
          expr("(1000000 * (pos - y)) div (n - 1)"))
          .otherwise(lit(null).cast("long")).as("loo_ppm"),
        col("smoothed_ppm"))
  }

  // ———————————————————————— data-contract expectations ————————————————————————
  // The dbt-test / Great-Expectations verb: declared rules evaluated
  // into one uniform report `(rule, n_checked, n_violations, viol_ppm,
  // passed)`. Row rules are ONE aggregate over one scan (any number of
  // them fused by the union into parallel scans of the same frame);
  // uniqueness is one grouped count; referential coverage one
  // broadcast-able anti-join. Nothing data-sized survives any rule, so
  // a full contract suite over 100 TB costs the scans and nothing else.

  private def expectRow(rule: String, n: Column, v: Column): Column =
    struct(lit(rule).as("rule"), n.as("n_checked"), v.as("n_violations"))

  private def report(rows: DataFrame): DataFrame =
    rows.select(col("rule"), col("n_checked"), col("n_violations"),
      when(col("n_checked") === 0, lit(null).cast("long"))
        .otherwise(expr("(1000000 * n_violations) div n_checked"))
        .as("viol_ppm"),
      (col("n_violations") === 0).as("passed"))

  /** Row-level expectations: each `(name, violated)` predicate counted
    * in ONE pass over `df`. A null predicate result counts as violated
    * — an expectation that cannot evaluate has failed, never silently
    * passed.
    */
  def expectRows(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "expectRows: no rules")
    val aggs = rules.zipWithIndex.map { case ((name, violated), i) =>
      expectRow(name, count(lit(1)),
        sum(when(coalesce(violated, lit(true)), 1L).otherwise(0L)))
        .as(s"_r$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    report(one.select(explode(array(
        rules.indices.map(i => col(s"_r$i")): _*)).as("r"))
      .select(col("r.rule"), col("r.n_checked"), col("r.n_violations")))
  }

  /** Uniqueness expectation over a composite key: violations = rows
    * carrying a duplicated key (all of them, not dup-count−1 — each
    * such row is unpublishable). Null-keyed rows are violations of a
    * DIFFERENT rule; declare them via [[expectRows]] and exclude here.
    */
  def expectUnique(df: DataFrame, rule: String,
      keys: Seq[String]): DataFrame = {
    val nonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    val perKey = df.filter(nonNull)
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
    report(perKey.agg(
        expectRow(rule, sum(col("c")),
          sum(when(col("c") > 1, col("c")).otherwise(0L))).as("r"))
      .select(col("r.rule"), col("r.n_checked"), col("r.n_violations")))
  }

  /** Referential-coverage expectation: child rows whose `childKey` has
    * no match in `parent.parentKey` (orphans). Null child keys are not
    * checked (declare not-null separately). The parent side reduces to
    * its distinct key before the join — broadcast-able for any real
    * dimension.
    */
  def expectFk(child: DataFrame, parent: DataFrame, rule: String,
      childKey: String, parentKey: String): DataFrame = {
    val c = child.filter(col(childKey).isNotNull)
    val keys = parent.select(col(parentKey).as("_pk")).distinct()
    val orphans = c.join(broadcast(keys), col(childKey) === col("_pk"),
      "left_anti")
    report(c.agg(count(lit(1)).as("n_checked"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_violations")))
      .select(lit(rule).as("rule"), col("n_checked"), col("n_violations")))
  }

  /** Cramér's V association matrix over declared categorical columns —
    * the profiling complement to [[fdAudit]]: FDs answer "is B a
    * FUNCTION of A", V answers "how far toward that does the
    * DEPENDENCE go" (0 = independent, 1 = one determines the other).
    * The matrix is what drives redundant-feature pruning and
    * leakage-suspect screens before training.
    *
    * Exact-integer algebra up to the single final sqrt (the
    * [[spearmanCorr]] float discipline): per cell,
    * `chi2-term = (N·n_xy − r_x·c_y)² / (N·r_x·c_y)` — each term one
    * truncating micro division of decimal(38) integers (squares of
    * `N·n` overflow Long at table sizes, so everything widens), summed
    * to `chi2_micro`; `v = round(√(chi2_micro / (10⁶·N·(min(r,c)−1))),
    * 6)`. ABSENT cells still contribute (their term is
    * `10⁶·r·c div N` — skipping them understates every association),
    * so the cell frame is the full marginal lattice, built by a
    * bounded cross join of the two marginals, left-joined to observed
    * counts with null-safe keys (a null category is a category).
    *
    * Cost: one grouped count + two bounded marginal joins per column
    * pair; rows after the first aggregate are cardinality-sized, never
    * data-sized. Degenerate pairs (either side single-valued) emit
    * null v.
    */
  def cramersV(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.length >= 2, "need at least two categorical columns")
    require(cols.distinct.length == cols.length, "duplicate column names")
    val dec = "decimal(38,0)"
    val pairs = cols.combinations(2).map { case Seq(a, b) =>
      val cells = df.groupBy(col(a).as("x"), col(b).as("y"))
        .agg(count(lit(1)).as("nxy"))
      val rx = cells.groupBy(col("x").as("mx")).agg(sum("nxy").as("r"))
      val cy = cells.groupBy(col("y").as("my")).agg(sum("nxy").as("c"))
      // full marginal lattice, null-safe back-join (a null category is
      // a category — the tCloseness lesson): absent cells keep nxy = 0
      val latt = rx.crossJoin(cy)
        .join(cells,
          col("mx") <=> cells("x") && col("my") <=> cells("y"), "left")
        .select(col("r"), col("c"), coalesce(col("nxy"), lit(0L)).as("nxy"))
      latt
        .crossJoin(df.agg(count(lit(1)).cast(dec).as("nn")))
        .crossJoin(rx.agg(count(lit(1)).as("ra")))
        .crossJoin(cy.agg(count(lit(1)).as("cb")))
        .select(col("nn"), col("ra"), col("cb"),
          expr(s"(cast(1000000 as $dec) * (nn * nxy - r * c) * " +
            s"(nn * nxy - r * c)) div (nn * cast(r as $dec) * c)")
            .as("term_micro"))
        .groupBy(col("nn"), col("ra"), col("cb"))
        .agg(sum(col("term_micro").cast(dec)).as("chi2_micro"))
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("nn").cast("long").as("n"), col("ra").as("r_card"),
          col("cb").as("c_card"),
          col("chi2_micro").cast("long").as("chi2_micro"),
          when(least(col("ra"), col("cb")) > 1,
            round(sqrt(col("chi2_micro").cast("double") /
              (lit(1e6) * col("nn").cast("double") *
                (least(col("ra"), col("cb")) - 1).cast("double"))), 6))
            .as("v"))
    }
    pairs.reduce(_.unionByName(_))
  }

  /** Per-group Kendall τ-b rank correlation over the JOINT CONTINGENCY
    * LATTICE — the monotone-association complement to [[spearmanCorr]]
    * that is exact under heavy ties (ranks are not materialized at
    * all). Every pair statistic is derived from distinct-value cells:
    * concordant/discordant pairs from a cell×cell join restricted to
    * `a.x < b.x` (each unordered cross-x pair counted once), and the
    * tie corrections n₁ = Σ tx·(tx−1)/2, n₂ = Σ ty·(ty−1)/2 from the
    * marginals. Work ∝ (distinct x · distinct y)² per group — NEVER
    * row-pairs — so a 100 TB fact table with a 550-cell lattice costs
    * one grouped count plus a constant-size join, exactly the
    * value-cardinality-bounded discipline of the AUC/Gini family.
    * τ-b = (P − Q) / √((n₀−n₁)(n₀−n₂)) with everything integer until
    * the one final sqrt (rounded 6 d.p. — the [[cramersV]] precedent).
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(groupCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .agg(count(lit(1)).as("nc"))
    val a = cells.select(col("g"), col("x").as("xa"), col("y").as("ya"),
      col("nc").as("na"))
    val b = cells.select(col("g").as("gb"), col("x").as("xb"),
      col("y").as("yb"), col("nc").as("nb"))
    val pq = a.join(b, col("g") === col("gb") && col("xa") < col("xb"))
      .groupBy("g")
      .agg(
        sum(when(col("ya") < col("yb"),
          (col("na") * col("nb")).cast(dec)).otherwise(lit(0).cast(dec)))
          .as("p"),
        sum(when(col("ya") > col("yb"),
          (col("na") * col("nb")).cast(dec)).otherwise(lit(0).cast(dec)))
          .as("q"))
    val nTot = cells.groupBy("g")
      .agg(sum(col("nc").cast(dec)).as("n"))
    val tiesX = cells.groupBy(col("g"), col("x"))
      .agg(sum("nc").as("tx"))
      .groupBy("g")
      .agg(sum(expr(s"cast(tx as $dec) * (tx - 1)")).as("n1x2"))
    val tiesY = cells.groupBy(col("g"), col("y"))
      .agg(sum("nc").as("ty"))
      .groupBy("g")
      .agg(sum(expr(s"cast(ty as $dec) * (ty - 1)")).as("n2x2"))
    nTot.join(pq, Seq("g"), "left").join(tiesX, "g").join(tiesY, "g")
      // the concordant/discordant counts are emitted as BIGINT; past
      // ~4.3e9 rows per group n²/2 overflows Long — fail by name (the
      // groupAuc/tCloseness discipline) instead of wrapping silently
      .withColumn("n", when(col("n") > 4000000000L,
        raise_error(lit("kendallTau: > 4e9 rows in a group overflows " +
          "the BIGINT pair counts — keep the decimal lattice instead")))
        .otherwise(col("n")))
      .select(col("g"), col("n"),
        coalesce(col("p"), lit(0).cast(dec)).as("p"),
        coalesce(col("q"), lit(0).cast(dec)).as("q"),
        expr(s"(n * (n - 1) - n1x2) div 2").cast(dec).as("dx"),
        expr(s"(n * (n - 1) - n2x2) div 2").cast(dec).as("dy"))
      .select(col("g").as(groupCol), col("n").cast("long").as("n"),
        col("p").cast("long").as("concordant"),
        col("q").cast("long").as("discordant"),
        when(col("dx") === 0 || col("dy") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("p") - col("q")).cast("double") /
              sqrt(col("dx").cast("double") * col("dy").cast("double")),
            6)).as("tau_b"))
  }

  /** Isotonic calibration of a binary-label score — PAVA expressed as
    * the minimax identity `f(i) = max_{j≤i} min_{k≥i... k≥j}
    * avg(pos[j..k])/avg(n[j..k])` over NON-EMPTY score bins, so the
    * whole fit is three bounded self-joins on a ≤`nBins`-row aggregate
    * (the pool-adjacent-violators recursion never runs; the closed
    * form gives the same fit). The only data-sized work is ONE grouped
    * count into bins; everything after operates on the bin frame, so
    * the 100 TB cost is a single map-side-combinable aggregate. Bin
    * averages are truncating ppm (`(10⁶·Σpos) div Σn`) computed
    * IDENTICALLY in both engines before the min/max lattice — the
    * fitted sequence is monotone nondecreasing by construction
    * (max over a growing set) regardless of truncation.
    *
    * SCORE CONTRACT: `scoreCol` must be an integer ppm score in
    * [0, 1e6) — binning is `score·nBins div 10⁶`. A raw [0,1] double
    * silently lands everything in bin 0 under that formula, so
    * out-of-range scores FAIL LOUDLY (`raise_error`) instead of
    * mis-binning; rescale upstream (`round(score*1e6)`) first.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 32): DataFrame = {
    require(nBins >= 2 && nBins <= 4096, s"nBins out of range: $nBins")
    val dec = "decimal(38,0)"
    val binned = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(
        when(col(scoreCol) < 0 || col(scoreCol) >= 1000000,
          raise_error(lit("isotonicCalibration: scoreCol must be an " +
            "integer ppm score in [0, 1e6) — rescale upstream " +
            "(round(score*1e6)) instead of passing raw [0,1] doubles"))
            .cast("long"))
          .otherwise(least(lit(nBins - 1),
            expr(s"cast($scoreCol as decimal(38,0)) * $nBins div 1000000"))
            .cast("long")).as("bin"),
        col(labelCol).cast("long").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    // bounded frame from here on: ≤ nBins rows
    val wOrd = Window.orderBy("bin")
    val pre = binned
      .withColumn("cn", sum("n").over(wOrd))
      .withColumn("cp", sum("pos").over(wOrd))
      .withColumn("i", row_number().over(wOrd))
    val j = pre.select(col("i").as("ji"), (col("cn") - col("n")).as("jn0"),
      (col("cp") - col("pos")).as("jp0"))
    val k = pre.select(col("i").as("ki"), col("cn").as("kcn"),
      col("cp").as("kcp"))
    val gOfJ = j.join(k, col("ji") <= col("ki"))
      .select(col("ji"),
        expr(s"(cast(1000000 as $dec) * (kcp - jp0)) div (kcn - jn0)")
          .cast("long").as("avg_ppm"))
      .groupBy("ji")
      .agg(min("avg_ppm").as("g"))
    val fit = pre.select(col("i")).join(gOfJ, col("ji") <= col("i"))
      .groupBy("i")
      .agg(max("g").as("iso_ppm"))
    pre.join(fit, "i")
      .select(col("bin"), col("n"), col("pos"),
        expr(s"(cast(1000000 as $dec) * pos) div n").cast("long")
          .as("rate_ppm"),
        col("iso_ppm"))
  }

  /** Time-in-state (dwell) per categorical state — "how long do users
    * sit in each step" where state = the event's type until the NEXT
    * event. The last event per key has no successor and is excluded
    * (an open interval has no defined dwell — padding it would invent
    * data). One per-key ordered window (lead), one grouped aggregate;
    * exact ms integers, truncating mean.
    */
  def dwellTime(events: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy(col("us"), col("id"))
    events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(stateCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(stateCol).as("state"), col(idCol).as("id"))
      .withColumn("nxt", lead("us", 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy("state")
      .agg(count(lit(1)).as("n_spells"),
        expr("sum((nxt - us) div 1000)").as("total_ms"),
        expr("sum((nxt - us) div 1000) div count(1)").as("mean_ms"),
        expr("max((nxt - us) div 1000)").as("max_ms"))
  }

  /** Pairwise mutual information over the joint contingency lattice —
    * the information-theoretic dependence screen beside [[cramersV]]
    * (V sees association STRENGTH; MI in nats is what a feature-
    * selection ranking actually orders by). Every count is exact
    * integer; the single float step is `Σ n_xy/n · ln(n·n_xy/(r·c))`
    * evaluated on ratios of those exact integers and rounded 6 d.p. —
    * the tfidf/spearman float-boundary precedent. Absent cells
    * contribute 0 (lim x·ln x = 0), so only OCCUPIED cells are
    * touched; null categories are categories (null-safe grouping).
    * Work ∝ occupied cells per pair, map-side combinable.
    */
  def mutualInfo(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.length >= 2, "need at least two categorical columns")
    require(cols.distinct.length == cols.length, "duplicate column names")
    val pairs = cols.combinations(2).map { case Seq(a, b) =>
      val cells = df.groupBy(col(a).as("x"), col(b).as("y"))
        .agg(count(lit(1)).as("nxy"))
      val rx = cells.groupBy(col("x").as("mx")).agg(sum("nxy").as("r"))
      val cy = cells.groupBy(col("y").as("my")).agg(sum("nxy").as("c"))
      cells
        .join(rx, col("x") <=> col("mx"))
        .join(cy, col("y") <=> col("my"))
        .crossJoin(df.agg(count(lit(1)).as("nn")))
        .agg(
          max(col("nn")).as("n"),
          count(lit(1)).as("occupied_cells"),
          round(sum((col("nxy").cast("double") / col("nn")) *
            log((col("nn").cast("double") * col("nxy")) /
              (col("r").cast("double") * col("c")))), 6).as("mi_nats"))
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n").cast("long").as("n"), col("occupied_cells"),
          col("mi_nats"))
    }
    pairs.reduce(_.unionByName(_))
  }

  /** Wald–Wolfowitz runs test — the shuffle-quality gate a training
    * pipeline needs before trusting its data ORDER (a "shuffled"
    * corpus that still clumps by source defeats curriculum mixing and
    * biases every mini-batch): per key, count the runs of a binary
    * attribute along the given order and compare against the
    * randomness expectation `μ = 1 + 2·n₁·n₀/n`,
    * `σ² = 2n₁n₀(2n₁n₀ − n)/(n²(n−1))`. The run count is an exact
    * integer (one lag window, changes summed); μ/σ/z are a per-row
    * double scalar chain over the exact counts in pinned order,
    * 6 d.p. (no float sums). |z| ≫ 2 low ⇒ clumped, high ⇒
    * over-alternating. One-sided keys (n₁ or n₀ = 0) or n < 2 ⇒ null.
    *
    * Scale: one per-key sort (the q07 lag shape) + one grouped
    * aggregate; keys-sized after.
    */
  def runsTest(df: DataFrame, keyCol: String, orderCol: String,
      tieCol: String, boolCol: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy(col("o"), col("tie"))
    val base = df.where(col(keyCol).isNotNull && col(orderCol).isNotNull &&
        col(tieCol).isNotNull && col(boolCol).isNotNull)
      .select(col(keyCol).as("k"), col(orderCol).as("o"),
        col(tieCol).as("tie"), col(boolCol).cast("boolean").as("x"))
      .withColumn("chg",
        when(lag(col("x"), 1).over(w).isNull ||
          lag(col("x"), 1).over(w) =!= col("x"), 1L).otherwise(0L))
    base.groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x"), 1L).otherwise(0L)).as("n1"),
        sum("chg").as("runs"))
      .withColumn("n0", col("n") - col("n1"))
      .withColumn("_p", lit(2.0) * col("n1").cast("double") *
        col("n0").cast("double"))
      .select(col(keyCol), col("n"), col("n1"), col("n0"), col("runs"),
        when(col("n1") > 0 && col("n0") > 0 && col("n") > 1,
          round((col("runs").cast("double") -
            (lit(1.0) + col("_p") / col("n").cast("double"))) /
            sqrt(col("_p") * (col("_p") - col("n").cast("double")) /
              (col("n").cast("double") * col("n").cast("double") *
                (col("n").cast("double") - 1.0))), 6))
          .as("z"))
  }

  /** Theil's uncertainty coefficient — the ASYMMETRIC companion to
    * [[cramersV]] and [[mutualInfo]]: `U(A|B) = MI/H(A)` reads "what
    * fraction of A's uncertainty does knowing B remove", so
    * U(lang|source) ≈ 1 with U(source|lang) ≈ 0.2 says source
    * determines language but not vice versa — a directionality both
    * symmetric measures hide. Counts are exact integers on the
    * occupied contingency cells; MI and the two marginal entropies
    * are the [[mutualInfo]] float boundary (ratios of exact integers,
    * rounded 6 d.p. at release only). Zero-entropy margins (constant
    * column) ⇒ null on that direction.
    *
    * Scale: one contingency aggregate per pair; cells-bounded after.
    */
  def theilsU(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("x"), col(bCol).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val rx = cells.groupBy(col("x").as("mx")).agg(sum("nxy").as("r"))
    val cy = cells.groupBy(col("y").as("my")).agg(sum("nxy").as("c"))
    val nn = df.agg(count(lit(1)).as("nn"))
    val mi = cells
      .join(rx, col("x") <=> col("mx"))
      .join(cy, col("y") <=> col("my"))
      .crossJoin(broadcast(nn))
      .agg(max("nn").as("n"), count(lit(1)).as("occupied_cells"),
        sum((col("nxy").cast("double") / col("nn")) *
          log((col("nn").cast("double") * col("nxy")) /
            (col("r").cast("double") * col("c")))).as("_mi"))
    val ha = rx.crossJoin(broadcast(nn))
      .agg(sum((col("r").cast("double") / col("nn")) * lit(-1.0) *
        log(col("r").cast("double") / col("nn"))).as("_ha"))
    val hb = cy.crossJoin(broadcast(nn))
      .agg(sum((col("c").cast("double") / col("nn")) * lit(-1.0) *
        log(col("c").cast("double") / col("nn"))).as("_hb"))
    mi.crossJoin(ha).crossJoin(hb)
      .select(lit(aCol).as("col_a"), lit(bCol).as("col_b"),
        col("n").cast("long").as("n"), col("occupied_cells"),
        round(col("_mi"), 6).as("mi_nats"),
        when(col("_ha") > 0, round(col("_mi") / col("_ha"), 6))
          .as("u_a_given_b"),
        when(col("_hb") > 0, round(col("_mi") / col("_hb"), 6))
          .as("u_b_given_a"))
  }

  /** Kaplan–Meier survival over per-entity lifetimes with right
    * censoring — the retention curve a product team reads, computed
    * the way a biostatistician defines it. Lifetime = days between an
    * entity's first and last event; entities still active at the
    * `censorDay` horizon are censored (they leave the risk set at
    * their observed lifetime WITHOUT counting as churn — dropping
    * them instead is survivorship bias, counting them as churned is
    * pessimism; KM is the unbiased middle). Steps exist only at
    * lifetimes with ≥ 1 death, so the step table is bounded by the
    * observation window (≤ 31 per group), and the survival product is
    * an exact truncating-ppm fold over the sorted steps — evaluated
    * as a SQL higher-order `aggregate` lambda here and a recursive
    * CTE in the oracle, same integers either way. The only data-sized
    * work: one (group, entity) aggregate.
    */
  def kaplanMeier(events: DataFrame, groupCol: String, entityCol: String,
      tsCol: String, censorDay: Long): DataFrame = {
    val spans = events
      .filter(col(groupCol).isNotNull && col(entityCol).isNotNull &&
        col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(entityCol).as("e"))
      .agg(
        expr(s"min(unix_micros($tsCol) div 86400000000)").as("d0"),
        expr(s"max(unix_micros($tsCol) div 86400000000)").as("d1"))
      .select(col("g"), (col("d1") - col("d0")).as("t"),
        (col("d1") >= censorDay).as("censored"))
    val deaths = spans.where(!col("censored"))
      .groupBy("g", "t").agg(count(lit(1)).as("d"))
    val atRisk = spans.groupBy(col("g"), col("t").as("rt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum("cnt").over(
        Window.partitionBy("g").orderBy(col("rt").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("g"), col("rt"), col("n"))
    val steps = deaths.as("dth")
      .join(atRisk.as("ar"), col("dth.g") === col("ar.g") && col("t") === col("rt"))
      .select(col("dth.g").as("g"), col("t"), col("d"), col("n"))
    steps.groupBy("g")
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("n"))))
        .as("arr"))
      .select(col("g"), explode(expr(
        """transform(arr, (e, i) ->
             struct(e.t as t, e.d as d, e.n as n,
               aggregate(slice(arr, 1, i + 1), cast(1000000 as bigint),
                 (acc, s) -> (acc * (s.n - s.d)) div s.n) as s_ppm))"""))
        .as("step"))
      .select(col("g").as(groupCol), col("step.t").as("t"),
        col("step.d").as("d"), col("step.n").as("n"),
        col("step.s_ppm").as("s_ppm"))
  }

  /** Incremental sessionization with EXACT resume — the batch proof
    * of the streaming checkpoint contract. The stream is cut at
    * `splitUs`; the first half sessionizes normally and yields one
    * carry row per key (last event µs + session count — the whole
    * state a resume needs); the second half sessionizes against that
    * carry: its first event per key consults the carried timestamp
    * for the gap test, every later event lags within its own half
    * (identical to the full pass by construction), and local session
    * indices offset by the carried count. The LAW — two-phase output
    * ≡ one-pass sessionization — is what the oracle checks, because
    * the oracle runs the single pass. At 100 TB this is the nightly
    * incremental: only the new partition is scanned, state is one row
    * per key.
    */
  def resumableSessionize(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, gapUs: Long, splitUs: Long): DataFrame = {
    val base = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("id"))
    val w = Window.partitionBy("k").orderBy(col("us"), col("id"))
    def flags(df: DataFrame) = df
      .withColumn("prev", lag("us", 1).over(w))
      .withColumn("flag",
        when(col("prev").isNull || col("us") - col("prev") >= gapUs, 1L)
          .otherwise(0L))
    val p1 = flags(base.where(col("us") < splitUs))
      .withColumn("sess", sum("flag").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val carry = p1.groupBy("k")
      .agg(max("us").as("carry_us"), max("sess").as("carry_n"))
    val p2 = base.where(col("us") >= splitUs)
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag("us", 1).over(w))
      .join(carry, Seq("k"), "left")
      .withColumn("flag", when(col("rn") === 1,
        when(col("carry_us").isNull ||
          col("us") - col("carry_us") >= gapUs, 1L).otherwise(0L))
        .otherwise(
          when(col("us") - col("prev") >= gapUs, 1L).otherwise(0L)))
      .withColumn("sess", coalesce(col("carry_n"), lit(0L)) +
        sum("flag").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    p1.select(col("k"), col("us"), col("sess"))
      .unionByName(p2.select(col("k"), col("us"), col("sess")))
      .groupBy(col("k"), col("sess"))
      .agg(count(lit(1)).as("n_events"),
        expr("min(us) div 1000").as("start_ms"),
        expr("max(us) div 1000").as("end_ms"))
      .select(col("k").as(keyCol), col("sess"), col("n_events"),
        col("start_ms"), col("end_ms"))
  }

  /** Simpson's-paradox screen: does the x–y association DIRECTION
    * within every stratum match the pooled direction? The classic
    * metrics-review failure — a dashboard trend that reverses when a
    * confounder is conditioned on — caught mechanically. Association
    * direction is the SIGN of the covariance numerator
    * `n·Σxy − Σx·Σy`, exact in decimal(38) (no variance division, no
    * float — sign is all the paradox needs). Emits one row per
    * stratum plus the pooled `ALL` row; a stratum flips when its sign
    * and the pooled sign are both nonzero and opposite. Two grouped
    * aggregates (one per stratum, one global fold of the same partial
    * sums) — map-side combinable, nothing data-sized crosses a stage.
    */
  def simpsonFlip(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(groupCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val per = base.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"))
      .withColumn("cov_sign",
        signum((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double")).cast("long"))
    val pooled = per
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxy").as("sxy"))
      .withColumn("pooled_sign",
        signum((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double")).cast("long"))
      .select(col("n"), col("pooled_sign"))
    per.crossJoin(pooled.select(col("pooled_sign")))
      .select(col("g").as("scope"), col("n").cast("long").as("n"),
        col("cov_sign"), col("pooled_sign"),
        (col("cov_sign") =!= 0 && col("pooled_sign") =!= 0 &&
          col("cov_sign") =!= col("pooled_sign")).as("flips"))
      .unionByName(pooled.select(lit("ALL").as("scope"),
        col("n").cast("long").as("n"),
        col("pooled_sign").as("cov_sign"), col("pooled_sign"),
        lit(false).as("flips")))
  }

  /** Markov stationary distribution over an event-type chain — the
    * long-run occupancy the per-transition view (session transitions)
    * cannot give: "if users keep behaving like this, what fraction of
    * time does the system spend in each state?". Transition
    * probabilities are row-normalized truncating ppm over the observed
    * per-user consecutive-event pairs; the stationary vector is
    * `iters` unrolled power-iteration rounds from the uniform start,
    * each round one integer matrix-vector product with ONE truncating
    * `div 10⁶` per entry (pinned order, both engines identical —
    * truncation loses ≤ S ppm of mass per round and the released
    * vector is the honest iterate, not a renormalized fiction).
    *
    * States without outgoing transitions keep their mass (self-loop
    * patch — the dangling-node correction of [[Graph.pageRank]] in its
    * simplest form, applied BEFORE normalization so the matrix is
    * genuinely stochastic).
    *
    * Scale: the only data-sized work is the lag window + pair count;
    * everything after lives on the S²-sized transition frame (S =
    * distinct event types — a design-time constant), so the unrolled
    * loop costs S²-sized joins, no checkpoint needed.
    */
  def markovStationary(events: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, tieCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters out of range: $iters")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(stateCol).isNotNull && col(tieCol).isNotNull)
      .select(col(stateCol).as("a"),
        lead(col(stateCol), 1).over(w).as("b"))
      .where(col("b").isNotNull)
    // the S²-bounded transition table is the LAST data-sized frame —
    // materialize it once (round-16): states/dangling/p and every one of
    // the `iters` unrolled matvec rounds reference it, and each lazy
    // reference re-ran the data-sized lag window + pair count (measured:
    // the events scan+window appeared once per loop round in q305's
    // plan, plus once for `states.count()` and once per final-join leg)
    val counts = pairs.groupBy("a", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // lazy: states.count() below materializes it
    val states = counts.select(col("a").as("s"))
      .union(counts.select(col("b").as("s"))).distinct()
    // dangling patch: states with no outgoing edge self-loop
    val dangling = states.join(counts.select(col("a").as("s")).distinct(),
        Seq("s"), "left_anti")
      .select(col("s").as("a"), col("s").as("b"), lit(1L).as("n"))
    val full = counts.unionByName(dangling)
    val outTot = full.groupBy("a").agg(sum("n").as("tot"))
    val p = full.join(outTot, "a")
      .select(col("a"), col("b"),
        expr("(1000000 * n) div tot").as("p_ppm"))
    val nStates = states.count() // bounded scalar: |S| is design-time
    var pi = states.select(col("s"),
      lit(1000000L / nStates).as("pi_ppm"))
    for (_ <- 1 to iters) {
      pi = p.join(pi, p("a") === pi("s"))
        .groupBy(col("b").as("s2"))
        .agg(expr("sum(pi_ppm * p_ppm) div 1000000").as("pi2"))
        .select(col("s2").as("s"), col("pi2").as("pi_ppm"))
    }
    states.join(pi, Seq("s"), "left")
      .select(col("s").as(stateCol),
        coalesce(col("pi_ppm"), lit(0L)).as("pi_ppm"))
  }

  /** Benjamini–Hochberg FDR correction — the multiple-testing gate
    * every wide screen in this engine eventually needs (per-segment
    * drift tests, per-term chi², per-slice SRM: run 10⁴ tests at
    * α=.05 and 500 "discoveries" are noise). BH at level q: sort
    * p-values ascending, find the LARGEST rank i with p₍ᵢ₎ ≤ q·i/m,
    * reject everything at or below that p. The comparison is exact
    * integer — `p_ppm·m ≤ q_ppm·i` — so the cutoff is engine-exact,
    * and the step-up rule ("everything below the LAST passing rank",
    * including interior ranks that individually fail) is one running
    * max over the rank order.
    *
    * Scale: ranks come from a window over the TEST table — tests are
    * segments/terms/slices (bounded design artifacts), never raw rows;
    * the scaladoc contract is |tests| ≪ |data|, same class as the
    * nBins/centroid frames.
    */
  def bhFdr(tests: DataFrame, idCol: String, pPpmCol: String,
      qPpm: Long = 50000L): DataFrame = {
    require(qPpm > 0 && qPpm <= 1000000L)
    val w = Window.orderBy(col("p_ppm"), col("id"))
    val ranked = tests
      .where(col(idCol).isNotNull && col(pPpmCol).isNotNull)
      .select(col(idCol).as("id"), col(pPpmCol).cast("long").as("p_ppm"))
      .crossJoin(broadcast(tests.agg(
        count(when(col(idCol).isNotNull && col(pPpmCol).isNotNull, 1))
          .as("m"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("pass", col("p_ppm") * col("m") <= lit(qPpm) * col("rank"))
      .withColumn("cutoff",
        max(when(col("pass"), col("rank"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked.select(col("id").as(idCol), col("p_ppm"), col("rank"),
      (col("cutoff").isNotNull && col("rank") <= col("cutoff"))
        .as("rejected"))
  }

  /** Null co-occurrence audit — the data-profiling verb single-column
    * null rates miss: whether columns go missing TOGETHER (one
    * upstream extractor died) or independently (organic sparsity).
    * One pass over the data computes, for every requested column pair,
    * the 2×2 null-contingency counts; the released frame is one row
    * per pair with the exact counts plus a truncating-ppm φ-style
    * association (n·n11 − na·nb over the raw counts — kept as exact
    * products, no square root: `assoc_num` sign says direction,
    * magnitude is comparable across pairs of the same table).
    *
    * Scale: ONE global aggregate (all pair counters are `sum(when)`
    * columns of the same scan — map-side combinable, no shuffle wider
    * than one row); the pair explosion happens on the 1-row result.
    */
  def nullCooccurrence(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 16, "2-16 columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val key = s"${a}__${b}"
      Seq(
        sum(when(col(a).isNull && col(b).isNull, 1L).otherwise(0L))
          .as(s"both__$key"),
        sum(when(col(a).isNull && col(b).isNotNull, 1L).otherwise(0L))
          .as(s"onlya__$key"),
        sum(when(col(a).isNotNull && col(b).isNull, 1L).otherwise(0L))
          .as(s"onlyb__$key"))
    } :+ count(lit(1)).as("n__total")
    // one-row aggregate, checkpointed so the per-pair selects below
    // provably reuse it instead of re-scanning the data per pair
    val one = df.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    pairs.map { case (a, b) =>
      val key = s"${a}__${b}"
      one.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col("n__total").as("n"),
        col(s"both__$key").as("n_both_null"),
        col(s"onlya__$key").as("n_a_only"),
        col(s"onlyb__$key").as("n_b_only"))
    }.reduce(_ unionByName _)
      .withColumn("n_a_null", col("n_both_null") + col("n_a_only"))
      .withColumn("n_b_null", col("n_both_null") + col("n_b_only"))
      .withColumn("assoc_num",
        col("n") * col("n_both_null") - col("n_a_null") * col("n_b_null"))
  }

  /** Entropy rate of a keyed state sequence — H(next | current) over
    * the observed per-key transitions, the predictability number
    * behind "is this event stream worth modeling" (0 = deterministic
    * chains, ln S = uniform noise). H = −Σ_ab (n_ab/N)·ln(n_ab/n_a);
    * each pair's `ln` is pinned to micro-nats from the INTEGER count
    * ratio (`round(10⁶·ln(n_ab/n_a))` — the q113 discipline: one
    * bounded float per (a,b) cell, both engines round the same double),
    * then the data-sized weighting `Σ n_ab·t_ab div N` is exact
    * integer. Scale: the lag window + one (a,b) grouped count; the
    * cell table is S²-bounded.
    */
  def entropyRate(events: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(stateCol).isNotNull && col(tieCol).isNotNull)
      .select(col(stateCol).as("a"),
        lead(col(stateCol), 1).over(w).as("b"))
      .where(col("b").isNotNull)
    val cells = pairs.groupBy("a", "b").agg(count(lit(1)).as("nab"))
    val rowTot = cells.groupBy("a").agg(sum("nab").as("na"))
    cells.join(rowTot, "a")
      .select(col("nab"),
        round(lit(1e6) * log(col("nab").cast("double") /
          col("na").cast("double"))).cast("long").as("t"))
      .agg(sum("nab").as("n_transitions"),
        expr("-(sum(nab * t)) div sum(nab)").as("entropy_rate_micro"))
  }

  /** Hill tail-index estimator — the heavy-tail audit behind
    * truncation policy ("how fast do extreme document lengths / prices
    * / latencies fall off"): over the top k+1 order statistics,
    * 1/α̂ = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎). The k+1 extremes come from
    * `orderBy desc limit k+1` — TakeOrderedAndProject, per-partition
    * top-k + driver merge, never a global sort — values are pinned to
    * integer micro first, each of the k lns is rounded to micro-nats
    * (bounded float count = k, the q113 class), and the mean + the
    * α̂ inversion are truncating integer divisions.
    */
  def hillTailIndex(df: DataFrame, valueCol: String, tieCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2 && k <= 10000)
    val vals = df
      .where(col(valueCol).isNotNull && col(valueCol) > 0 &&
        col(tieCol).isNotNull)
      .select(round(col(valueCol).cast("double") * 1e6).cast("long")
        .as("v_micro"), col(tieCol).as("tie"))
      .orderBy(col("v_micro").desc, col("tie").asc)
      .limit(k + 1)
    val wDesc = Window.orderBy(col("v_micro").desc, col("tie").asc)
    val ranked = vals.withColumn("r", row_number().over(wDesc))
    val xk1 = ranked.where(col("r") === k + 1)
      .select(col("v_micro").as("x_k1"))
    ranked.where(col("r") <= k)
      .crossJoin(broadcast(xk1))
      .select(round(lit(1e6) * log(col("v_micro").cast("double") /
        col("x_k1").cast("double"))).cast("long").as("t"),
        col("x_k1"))
      .groupBy("x_k1")
      .agg(count(lit(1)).as("k"),
        expr("sum(t) div count(1)").as("hill_inv_micro"))
      .select(col("k"), col("x_k1"),
        col("hill_inv_micro"),
        when(col("hill_inv_micro") > 0,
          expr("1000000000000 div hill_inv_micro")).as("alpha_micro"))
  }

  /** Herfindahl–Hirschman concentration per group — "is this segment's
    * activity spread across many members or owned by a few" (crawl
    * health: one domain dominating a source; marketplace health: one
    * seller owning a category). Shares are truncating ppm of member
    * counts; HHI = Σ s² div 10⁶ stays ppm (10⁶ = monopoly); the
    * effective member count 10¹²/HHI rides along (the intuitive
    * "equivalent equal members" reading). Two grouped counts, both
    * map-side combinable.
    */
  def hhiConcentration(df: DataFrame, groupCol: String,
      memberCol: String): DataFrame = {
    val m = df.where(col(groupCol).isNotNull && col(memberCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(memberCol).as("mb"))
      .agg(count(lit(1)).as("n"))
    val tot = m.groupBy("g").agg(sum("n").as("tot"),
      count(lit(1)).as("n_members"))
    m.join(tot, "g")
      .select(col("g"), col("n_members"),
        expr("(1000000 * n) div tot").as("s_ppm"))
      .groupBy(col("g").as(groupCol))
      .agg(max("n_members").as("n_members"),
        expr("sum(s_ppm * s_ppm) div 1000000").as("hhi_ppm"))
      .withColumn("effective_n_milli",
        when(col("hhi_ppm") > 0, expr("1000000000 div hhi_ppm")))
  }

  /** Sample-ratio-mismatch guard — the FIRST check any split/experiment
    * readout must pass: do the observed bucket counts match the design
    * weights? A biased assignment invalidates everything downstream,
    * and SRM is how it is caught (χ² against expected counts). All
    * integer: expected `e = (N·w) div Σw`, statistic in milli-units
    * `Σ ((o−e)²·1000) div e`, flag at the χ²(df) 95% critical value
    * supplied by the caller in milli (3841 for 2 buckets). One grouped
    * count + a buckets-sized fold.
    */
  def srmCheck(df: DataFrame, expCol: String, bucketCol: String,
      weights: Seq[(String, Int)],
      critMilli: Long = 3841L): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).forall(_ > 0))
    val wSum = weights.map(_._2).sum
    val sparkSess = df.sparkSession
    import sparkSess.implicits._
    val wDf = weights.toDF("bucket", "w")
    val obs = df.where(col(expCol).isNotNull && col(bucketCol).isNotNull)
      .groupBy(col(expCol).as("e"), col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("o"))
    val n = obs.groupBy("e").agg(sum("o").as("n"))
    obs.join(broadcast(wDf), "bucket").join(n, "e")
      .select(col("e"), col("o"), col("n"),
        expr(s"(n * w) div $wSum").as("exp_"))
      .where(col("exp_") > 0)
      .groupBy(col("e").as(expCol))
      .agg(max("n").as("n"), count(lit(1)).as("n_buckets"),
        sum(expr("((o - exp_) * (o - exp_) * 1000) div exp_"))
          .as("chi2_milli"))
      .withColumn("srm_flag", col("chi2_milli") > critMilli)
  }

  /** Exact Mann–Whitney U — the nonparametric two-sample location test
    * next to [[ksDistance]] (KS asks "same distribution?", U asks
    * "does one group stochastically dominate?"). Computed entirely on
    * the DISTINCT-value frame (the weighted-percentiles discipline):
    * per value, the DOUBLED midrank `2·cum_before + cnt + 1` is an
    * integer even for tied averages, so R₁ and U₁ = R₁ − n₁(n₁+1) stay
    * exact doubled integers; the released effect size is the
    * common-language `P(X₁ > X₂) + ½P(=)` as truncating ppm
    * `10⁶·U₁d div (2·n₁·n₂)`. No normal approximation, no floats.
    */
  def mannWhitneyU(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val base = df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(valueCol).cast("long").as("v"),
        col(groupCol).cast("boolean").as("g1"))
    val byVal = base.groupBy("v")
      .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("n1v"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("n2v"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal
      .withColumn("cum", sum(col("n1v") + col("n2v")).over(wCum))
      .select(col("n1v"), col("n2v"),
        (lit(2L) * (col("cum") - col("n1v") - col("n2v")) +
          col("n1v") + col("n2v") + 1L).as("mid2"))
      .agg(sum("n1v").as("n1"), sum("n2v").as("n2"),
        sum(col("n1v") * col("mid2")).as("r1d"))
      .select(col("n1"), col("n2"),
        (col("r1d") - col("n1") * (col("n1") + 1)).as("u1_doubled"))
      .select(col("n1"), col("n2"), col("u1_doubled"),
        (lit(2L) * col("n1") * col("n2") - col("u1_doubled"))
          .as("u2_doubled"),
        when(col("n1") > 0 && col("n2") > 0,
          expr("(1000000 * u1_doubled) div (2 * n1 * n2)"))
          .as("cles_ppm"))
  }

  /** Weight-of-evidence + information value per feature bin — the
    * credit-scoring-style feature screen next to [[mutualInfo]] (MI
    * says "dependent or not"; WoE says in WHICH DIRECTION each bin
    * separates the classes, and IV totals the separation strength on
    * the conventional <0.02 useless / >0.3 strong ladder). Per bin:
    * WoE = ln(dist_good/dist_bad) with the ratio CLEARED of the totals
    * (`g_i·B / b_i·G` — exact integer argument, one pinned micro-nat
    * ln per bin); the IV contribution weight `(g_i·B − b_i·G)/(G·B)`
    * is exact decimal with ONE truncating div at the very end.
    * One-sided bins (zero goods or zero bads) release a NULL WoE and
    * are excluded from IV AND from the G/B totals — the distributions
    * renormalize over the bins that actually participate, so the IV
    * contributions still sum to a proper divergence; the standard
    * alternative (additive smoothing) invents evidence, and the null
    * is the honest flag that the bin needs merging. Scale: one grouped
    * count; everything after is bins-sized.
    */
  def woeIv(df: DataFrame, binCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val bins = df.where(col(binCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(binCol).as("bin"))
      .agg(sum(when(col(labelCol).cast("long") === 1, 1L).otherwise(0L))
        .as("g"),
        sum(when(col(labelCol).cast("long") =!= 1, 1L).otherwise(0L))
        .as("b"))
    val tot = bins.where(col("g") > 0 && col("b") > 0)
      .agg(sum("g").as("gt"), sum("b").as("bt"))
    val scored = bins.crossJoin(broadcast(tot))
      .withColumn("woe_micro",
        when(col("g") > 0 && col("b") > 0,
          round(lit(1e6) * log(
            expr(s"cast(g as $dec) * bt").cast("double") /
            expr(s"cast(b as $dec) * gt").cast("double"))).cast("long")))
      .withColumn("iv_contrib_micro",
        when(col("woe_micro").isNotNull,
          expr(s"((cast(g as $dec) * bt - cast(b as $dec) * gt)" +
            s" * woe_micro) div (cast(gt as $dec) * bt)").cast("long")))
    scored.select(col("bin").as(binCol), col("g").as("n_good"),
      col("b").as("n_bad"), col("woe_micro"), col("iv_contrib_micro"))
  }

  /** RFM segmentation — the behavioral-cohort verb every event
    * warehouse ships: per entity, Recency (days since last event,
    * against the corpus max so the segmentation is reproducible from
    * the data alone), Frequency (event count), Monetary (micro-pinned
    * value sum), each coded 1-5 by VALUE-ALIGNED quintile bands from
    * the distinct-value cumulative frames (the curriculum discipline —
    * no data-sized ntile; recency code is INVERTED so 5 always means
    * "best": most recent, most frequent, highest value).
    *
    * Scale: one per-entity aggregate, then three distinct-value
    * cumulative frames + broadcast band joins.
    */
  def rfmSegments(events: DataFrame, entityCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val per = events
      .where(col(entityCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(entityCol).as("entity"))
      .agg(max(unix_micros(col(tsCol))).as("last_us"),
        count(lit(1)).as("f"),
        sum(round(col(valueCol).cast("double") * 1e6).cast("long"))
          .as("m_micro"))
    val maxUs = per.agg(max("last_us").as("_mx"))
    val base = per.crossJoin(broadcast(maxUs))
      .withColumn("r_days",
        expr("(_mx - last_us) div 86400000000").cast("long"))
      .select(col("entity"), col("r_days"), col("f"), col("m_micro"))
    def bandOf(c: String, inverted: Boolean): DataFrame = {
      val byVal = base.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byVal.agg(sum("cnt").as("_t"))
      byVal.withColumn("cum_end", sum("cnt").over(wv))
        .crossJoin(broadcast(tot))
        .select(col("v"),
          least(lit(4L), expr("(5 * (cum_end - cnt)) div _t")).as("q"))
        .select(col("v").as(c),
          (if (inverted) lit(5L) - col("q") else col("q") + 1L)
            .as(s"${c}_code"))
    }
    base
      .join(broadcast(bandOf("r_days", inverted = true)), "r_days")
      .join(broadcast(bandOf("f", inverted = false)), "f")
      .join(broadcast(bandOf("m_micro", inverted = false)), "m_micro")
      .select(col("entity").as(entityCol), col("r_days"), col("f"),
        col("m_micro"), col("r_days_code").as("r_code"),
        col("f_code"), col("m_micro_code").as("m_code"),
        concat(col("r_days_code"), col("f_code"), col("m_micro_code"))
          .as("segment"))
  }

  /** Dispersion index (variance-to-mean ratio) per group — the
    * overdispersion gate before any Poisson assumption ("are per-user
    * event counts Poisson-ish, or do power users break the model?").
    * Exact: D·10³ = 10³·(n·Σx² − (Σx)²) div ((n−1)·n·x̄) computed as
    * `(1000·(n·Σx² − (Σx)²)) div ((n−1)·Σx)` — sample variance over
    * mean with the totals cleared, one truncating div, decimal
    * intermediates. Null for n < 2 or zero mean. Two grouped counts
    * (member counts, then moments), both map-side combinable.
    */
  def dispersionIndex(df: DataFrame, groupCol: String,
      memberCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df
      .where(col(groupCol).isNotNull && col(memberCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(memberCol).as("mb"))
      .agg(count(lit(1)).as("x"))
    counts.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr(s"cast(x as $dec) * x")).as("sx2"))
      .select(col(groupCol), col("n"), col("sx").as("total"),
        when(col("n") >= 2 && col("sx") > 0,
          expr(s"(1000 * (n * sx2 - cast(sx as $dec) * sx))" +
            s" div ((n - 1) * cast(sx as $dec))").cast("long"))
          .as("dispersion_milli"))
  }

  /** Pairwise 1-D Wasserstein (earth-mover) distance between groups'
    * value distributions — the drift metric that SEES HOW FAR mass
    * moved, which PSI/JS (bin membership) and KS (single worst point)
    * do not: W₁ = ∫|F_a − F_b| dv over the merged support. Exact with
    * the totals cleared: per support step,
    * `|cum_a·n_b − cum_b·n_a| · (v_next − v)` is an exact decimal;
    * ONE truncating micro division by n_a·n_b at the very end.
    *
    * Scale: one grouped count per (group, value) — everything after
    * is support-cardinality × pairs (value domain, not rows), the
    * [[Analytics.mannWhitneyU]] distinct-value-frame discipline.
    */
  def wasserstein1d(df: DataFrame, groupCol: String, valCol: String,
      groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 32)
    val dec = "decimal(38,0)"
    val counts = df
      .where(col(groupCol).isin(groups.map(x => x: Any): _*) &&
        col(valCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(valCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("ga"), col("n").as("na"))
      .crossJoin(tot.select(col("g").as("gb"), col("n").as("nb")))
      .where(col("ga") < col("gb"))
    val support = counts.select("v").distinct()
    val lattice = broadcast(pairs).crossJoin(support)
      .join(counts.select(col("g").as("ga"), col("v"), col("c").as("ca")),
        Seq("ga", "v"), "left")
      .join(counts.select(col("g").as("gb"), col("v"), col("c").as("cb")),
        Seq("gb", "v"), "left")
      .select(col("ga"), col("gb"), col("na"), col("nb"), col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val w = Window.partitionBy("ga", "gb").orderBy(col("v"))
    val cums = lattice
      .withColumn("cum_a", sum("ca").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_b", sum("cb").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dv", lead(col("v"), 1).over(w) - col("v"))
      .where(col("dv").isNotNull)
    cums.groupBy(col("ga").as("group_a"), col("gb").as("group_b"))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum(expr(s"abs(cast(cum_a as $dec) * nb - cast(cum_b as $dec) * na)" +
          s" * dv")).as("_t"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        expr(s"(cast(1000000 as $dec) * _t) div (cast(n_a as $dec) * n_b)")
          .cast("long").as("w1_micro"))
  }

  /** Market-basket association rules — directed `A ⇒ B` with exact
    * support / confidence / lift over basket co-membership: the
    * recommendation/cross-sell primitive, and (on corpora) the
    * "documents containing X also contain Y" curation signal.
    * `conf = n_ab/n_a`, `lift = n_ab·N/(n_a·n_b)` — both truncating
    * ppm with the totals cleared. The scale hazard is the hub basket
    * (one basket with 10⁶ items fans out 10¹² pairs), so baskets are
    * capped to their `maxBasket` first items (id-pinned row_number ⇒
    * WindowGroupLimit map-side prune, the [[Graph.cooccurrenceProjection]]
    * bound); pair fan-out is baskets·cap² regardless of skew.
    * `minPairSupport` prunes the long tail before the rule join.
    */
  def basketRules(df: DataFrame, basketCol: String, itemCol: String,
      minPairSupport: Int = 2, maxBasket: Int = 64): DataFrame = {
    require(minPairSupport >= 1 && maxBasket >= 2)
    val inc = df.where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("bk"), col(itemCol).as("item")).distinct()
    val capped = inc
      .withColumn("rn", row_number().over(
        Window.partitionBy("bk").orderBy(col("item"))))
      .where(col("rn") <= maxBasket).select("bk", "item")
      .localCheckpoint() // four roles: count + supports + self-join×2
    val nBaskets = capped.select("bk").distinct().count() // bounded scalar
    val itemSupp = capped.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = capped.select(col("bk"), col("item").as("ia"))
      .join(capped.select(col("bk").as("bkb"), col("item").as("ib")),
        col("bk") === col("bkb") && col("ia") =!= col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairSupport)
    pairs
      .join(itemSupp.select(col("item").as("ia"), col("n_item").as("n_a")),
        "ia")
      .join(itemSupp.select(col("item").as("ib"), col("n_item").as("n_b")),
        "ib")
      .select(col("ia").as("antecedent"), col("ib").as("consequent"),
        col("n_ab"), col("n_a"), col("n_b"),
        expr("(1000000 * n_ab) div n_a").as("conf_ppm"),
        expr(s"(1000000 * n_ab * $nBaskets) div (n_a * n_b)")
          .as("lift_ppm"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the credit
    * scheme between [[lastTouchAttribution]] (all credit to one touch)
    * and [[multiTouchCredit]] (uniform): first and last touch in the
    * conversion window get 40% each, middles split the remaining 20%.
    * One touch ⇒ 100%; two ⇒ 50/50 (the standard convention — 40/40
    * would strand 20%). Credit is exact ppm (`200000 div (k−2)` for
    * middles, remainder stranded like any integer split — documented,
    * deterministic); per-channel rollup sums the exact integers.
    * Touch order within a conversion is (ts, id)-pinned.
    *
    * Scale: the conversion⋈touch pair join is bounded by the window
    * length × per-user event rate (the q157 frame bound made
    * explicit); everything after is pair-sized with map-side combine.
    */
  def positionAttribution(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, convType: String,
      touchTypes: Seq[String], windowUs: Long): DataFrame = {
    require(windowUs > 0 && touchTypes.nonEmpty)
    val base = events.select(col(keyCol).as("k"), col(idCol).as("id"),
      unix_micros(col(tsCol)).as("us"), col(typeCol).as("et"))
    val conv = base.where(col("et") === convType)
      .select(col("k"), col("id").as("conv_id"), col("us").as("conv_us"))
    val touch = base.where(col("et").isin(touchTypes.map(x => x: Any): _*))
      .select(col("k"), col("id").as("touch_id"), col("us").as("touch_us"),
        col("et").as("channel"))
    val paired = conv.join(touch, Seq("k"))
      .where(col("touch_us") < col("conv_us") &&
        col("touch_us") >= col("conv_us") - windowUs)
    val w = Window.partitionBy("k", "conv_id")
      .orderBy(col("touch_us"), col("touch_id"))
    val credited = paired
      .withColumn("rn", row_number().over(w))
      .withColumn("kt", count(lit(1)).over(
        Window.partitionBy("k", "conv_id")))
      .withColumn("credit_ppm",
        when(col("kt") === 1, lit(1000000L))
          .when(col("kt") === 2, lit(500000L))
          .when(col("rn") === 1 || col("rn") === col("kt"), lit(400000L))
          .otherwise(expr("200000 div (kt - 2)")))
    credited.groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("k"), col("conv_id")).as("n_conversions"),
        sum("credit_ppm").as("credit_ppm_total"))
  }

  /** Difference-in-differences — the quasi-experimental effect
    * estimate when randomization is impossible (a feature shipped to
    * one cohort at a date): `(ȳ_treat,post − ȳ_treat,pre) −
    * (ȳ_ctrl,post − ȳ_ctrl,pre)` nets out both the level difference
    * between cohorts and the common time trend. Values pin to micro;
    * each cell mean is ONE truncating division (non-negative-sum
    * contract — the engine's `div` truncates toward zero and the
    * oracle's `//` floors, identical only above zero); the DiD is a
    * subtraction of the four already-truncated means in pinned order.
    * Any empty cell ⇒ empty result (no row), never a fake 0.
    *
    * Scale: one map-side-combinable grouped aggregate over the 2×2
    * lattice; everything after is four rows.
    */
  def diffInDiff(df: DataFrame, treatCol: String, postCol: String,
      valCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.where(col(treatCol).isNotNull && col(postCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(treatCol).cast("boolean").as("t"),
        col(postCol).cast("boolean").as("p"))
      .agg(count(lit(1)).as("n"),
        sum(round(col(valCol).cast("double") * 1e6).cast("long").cast(dec))
          .as("sv"))
      .select(col("t"), col("p"), col("n"),
        expr(s"sv div n").cast("long").as("m"))
    def cell(t: Boolean, p: Boolean, nm: String) =
      cells.where(col("t") === t && col("p") === p)
        .select(col("n").as(s"n_$nm"), col("m").as(s"m_${nm}_micro"))
    cell(true, false, "t_pre").crossJoin(cell(true, true, "t_post"))
      .crossJoin(cell(false, false, "c_pre"))
      .crossJoin(cell(false, true, "c_post"))
      .withColumn("did_micro",
        (col("m_t_post_micro") - col("m_t_pre_micro")) -
          (col("m_c_post_micro") - col("m_c_pre_micro")))
  }

  /** Episode (sequential-pattern) support — the share of sessions
    * containing steps(0) → steps(1) → steps(2) IN ORDER with each
    * step at most `stepGapUs` after the previous one: the
    * max-gap-constrained cousin of [[sessionFunnel]] (a funnel where
    * "view … 3 days … purchase" should NOT count). Chained window
    * mins over ONE per-user sort (the funnel discipline); support is
    * exact ppm over ALL sessions.
    */
  def episodeSupport(events: DataFrame, steps: Seq[String],
      sessionGapUs: Long = 1800000000L,
      stepGapUs: Long = 7200000000L): DataFrame = {
    require(steps.length == 3, "three-step episode")
    val w = Window.partitionBy("user_id", "sess")
    val s = sessionized(events, sessionGapUs)
      .withColumn("s1",
        min(when(col("event_type") === steps(0), col("_us"))).over(w))
      .withColumn("s2",
        min(when(col("event_type") === steps(1) && col("_us") > col("s1") &&
          col("_us") <= col("s1") + stepGapUs, col("_us"))).over(w))
      .withColumn("s3",
        min(when(col("event_type") === steps(2) && col("_us") > col("s2") &&
          col("_us") <= col("s2") + stepGapUs, col("_us"))).over(w))
    s.groupBy("user_id", "sess")
      .agg(max(col("s3").isNotNull.cast("long")).as("hit"))
      .agg(count(lit(1)).as("n_sessions"), sum("hit").as("n_matched"))
      .select(col("n_sessions"), col("n_matched"),
        when(col("n_sessions") > 0,
          expr("(1000000 * n_matched) div n_sessions")).as("support_ppm"))
  }

  /** Neyman allocation — the optimal stratified-sampling design table
    * (allocate a budget of `nSample` draws across strata ∝ N_h·σ_h,
    * so volatile strata get more samples): the survey-statistics verb
    * behind "how should the eval set be drawn". σ_h enters as ONE
    * pinned micro-rounded sqrt per stratum (the [[woeIv]] ln
    * discipline); weights and the largest-remainder split are exact
    * integers after that — allocations sum to EXACTLY nSample
    * (remainder ranks tie-break on stratum name). Singleton strata
    * carry σ = 0 and win only remainder seats. All-zero weights
    * (every stratum constant) ⇒ null allocations.
    *
    * Scale: one grouped moment aggregate; everything after is
    * strata-sized, including the remainder rank.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valCol: String,
      nSample: Long): DataFrame = {
    require(nSample >= 1)
    val dec = "decimal(38,0)"
    val mom = df.where(col(stratumCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(stratumCol).as("h"))
      .agg(count(lit(1)).as("nh"),
        sum(col(valCol).cast("long").cast(dec)).as("sv"),
        sum(expr(s"cast(cast($valCol as long) as $dec)" +
          s" * cast($valCol as long)")).as("sv2"))
      .withColumn("std_micro",
        when(col("nh") >= 2,
          round(lit(1e6) * sqrt(
            expr(s"cast(nh * sv2 - sv * sv as double)") /
              expr(s"cast(cast(nh as $dec) * (nh - 1) as double)")))
            .cast("long"))
          .otherwise(lit(0L)))
      .withColumn("w", expr(s"cast(nh as $dec) * std_micro"))
    val tot = mom.agg(sum("w").as("tw"))
    val based = mom.crossJoin(broadcast(tot))
      .withColumn("base",
        when(col("tw") > 0,
          expr(s"(cast($nSample as $dec) * w) div tw").cast("long")))
      .withColumn("rem",
        when(col("tw") > 0, expr(s"(cast($nSample as $dec) * w) % tw")))
    val leftover = based.agg((lit(nSample) -
      coalesce(sum("base"), lit(0L))).as("lo"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("h").asc)))
      .select(col("h").as(stratumCol), col("nh").as("n_rows"),
        col("std_micro"),
        when(col("tw") > 0,
          col("base") + when(col("rk") <= col("lo"), 1L).otherwise(0L))
          .as("alloc_n"))
  }

  /** Candidate-key profiling — uniqueness ratio per column combo (the
    * discovery side of [[fdAudit]]'s functional dependencies: an FD
    * says A determines B; a key candidate says the combo determines
    * the ROW). One global aggregate computes every combo's distinct
    * count in a single scan (multi-column countDistinct drops rows
    * with any null — the SQL COUNT(DISTINCT a, b) convention,
    * mirrored with a FILTER in the oracle); the combo explosion runs
    * on the 1-row result. `is_key` = every non-null row distinct AND
    * no nulls anywhere in the combo.
    */
  def keyCandidates(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty && combos.forall(_.nonEmpty))
    val n = count(lit(1)).as("n_rows")
    val aggs = combos.zipWithIndex.flatMap { case (cs, i) =>
      Seq(countDistinct(cs.head, cs.tail: _*).as(s"nd_$i"),
        sum(when(cs.map(c => col(c).isNotNull).reduce(_ && _), 1L)
          .otherwise(0L)).as(s"nn_$i"))
    }
    val one = df.agg(n, aggs: _*)
    // explode the combo rows OUT of the single 1-row aggregate so the
    // scan runs once — a unionByName of per-combo selects would
    // re-evaluate the full aggregate once per combo
    one.select(explode(array(combos.zipWithIndex.map { case (cs, i) =>
      struct(lit(cs.mkString(",")).as("combo"), col("n_rows"),
        col(s"nn_$i").as("n_nonnull"), col(s"nd_$i").as("n_distinct"),
        when(col(s"nn_$i") > 0,
          expr(s"(1000000 * nd_$i) div nn_$i")).as("uniqueness_ppm"),
        (col(s"nd_$i") === col("n_rows") && col(s"nn_$i") === col("n_rows"))
          .as("is_key"))
    }: _*)).as("r")).select("r.*")
  }

  /** Wald SPRT — the SEQUENTIAL A/B decision the fixed-horizon tests
    * ([[abTestSummary]]-style) cannot give: walk the observation
    * stream in event order, accumulate the log-likelihood ratio of
    * H₁: p = p1 against H₀: p = p0 for a Bernoulli outcome, and stop
    * at the FIRST crossing of the Wald boundaries A = ln((1−β)/α),
    * B = ln(β/(1−α)). Per-observation increments are two CONSTANTS
    * (success: ln(p1/p0), failure: ln((1−p1)/(1−p0))) pinned to
    * micro-nats by `round(10⁶·ln(·))` BEFORE the walk — the only float
    * work is four scalar `ln`s both engines round identically (the
    * q113 discipline); the walk itself is an exact integer running
    * sum, so the crossing index is engine-exact, not
    * last-ulp-gambled.
    *
    * Emits one row per `expCol`: n_obs, n_success, decision
    * (`accept_h1` / `accept_h0` / `continue`), the 1-based observation
    * index at decision (null if no crossing), and the final LLR. Scale:
    * one per-key ordered running-sum window + one grouped
    * min-conditional fold — the sessionization cost shape.
    */
  def sprtDecision(obs: DataFrame, expCol: String, tsCol: String,
      tieCol: String, successCol: String,
      p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0)
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1)
    val llrS = math.round(1e6 * math.log(p1 / p0))
    val llrF = math.round(1e6 * math.log((1 - p1) / (1 - p0)))
    val bndA = math.round(1e6 * math.log((1 - beta) / alpha))
    val bndB = math.round(1e6 * math.log(beta / (1 - alpha)))
    val w = Window.partitionBy(col("e"))
      .orderBy(col("ts"), col("tie"))
    val walked = obs
      .where(col(expCol).isNotNull && col(tsCol).isNotNull &&
        col(tieCol).isNotNull && col(successCol).isNotNull)
      .select(col(expCol).as("e"), col(tsCol).as("ts"),
        col(tieCol).as("tie"),
        col(successCol).cast("boolean").as("succ"))
      .withColumn("inc", when(col("succ"), llrS).otherwise(llrF))
      .withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("llr", sum("inc").over(w))
    walked.groupBy(col("e").as(expCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("succ"), 1L).otherwise(0L)).as("n_success"),
        min(when(col("llr") >= bndA, col("seq"))).as("_hit1"),
        min(when(col("llr") <= bndB, col("seq"))).as("_hit0"),
        max(struct(col("seq"), col("llr"))).as("_fin"))
      .select(col(expCol), col("n_obs"), col("n_success"),
        when(col("_hit1").isNotNull &&
            (col("_hit0").isNull || col("_hit1") <= col("_hit0")),
          lit("accept_h1"))
          .when(col("_hit0").isNotNull, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"),
        least(col("_hit1"), col("_hit0")).as("n_at_decision"),
        col("_fin.llr").as("final_llr_micro"))
  }

  /** CUPED variance reduction — the pre-experiment-covariate
    * adjustment (Deng et al. 2013) every mature A/B platform applies
    * before reading a metric: `ŷ = ȳ_g − θ·(x̄_g − x̄)` with
    * `θ = cov(x, y)/var(x)` pooled over ALL units, which removes the
    * pre-period component of the variance (theoretical reduction =
    * ρ²(x, y), emitted alongside). Moments are EXACT decimal sums of
    * the caller-pinned integer values; θ, the means, ρ², and the
    * adjusted means are per-row double scalar chains in pinned order
    * (no float SUMS anywhere — the [[Graph.assortativity]] discipline),
    * rounded 6 d.p. once at the end. var(x) = 0 ⇒ null θ/adjusted
    * (no pre-period signal to remove).
    *
    * Scale: one global moment aggregate + one per-arm moment
    * aggregate, both map-side combinable; everything after is
    * arms-sized.
    */
  def cuped(df: DataFrame, preCol: String, postCol: String,
      treatCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.where(col(preCol).isNotNull && col(postCol).isNotNull &&
        col(treatCol).isNotNull)
      .select(col(preCol).cast("long").as("x"),
        col(postCol).cast("long").as("y"),
        col(treatCol).cast("boolean").as("t"))
    val g = base.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(expr(s"cast(x as $dec) * x")).as("sxx"),
      sum(expr(s"cast(x as $dec) * y")).as("sxy"),
      sum(expr(s"cast(y as $dec) * y")).as("syy"))
    val per = base.groupBy("t").agg(count(lit(1)).as("n_g"),
      sum(col("x").cast(dec)).as("sx_g"), sum(col("y").cast(dec)).as("sy_g"))
    per.crossJoin(broadcast(g))
      .withColumn("_vx", expr(s"cast(n * sxx - sx * sx as double)"))
      .withColumn("_cxy", expr(s"cast(n * sxy - sx * sy as double)"))
      .withColumn("_vy", expr(s"cast(n * syy - sy * sy as double)"))
      .withColumn("_theta", when(col("_vx") > 0, col("_cxy") / col("_vx")))
      .select(col("t").as(treatCol), col("n_g").as("n"),
        round(expr("cast(sy_g as double) / cast(n_g as double)"), 6)
          .as("mean_post"),
        round(expr("cast(sy_g as double) / cast(n_g as double)") -
          col("_theta") * (expr("cast(sx_g as double) / cast(n_g as double)")
            - expr("cast(sx as double) / cast(n as double)")), 6)
          .as("mean_adj"),
        round(col("_theta"), 6).as("theta"),
        when(col("_vx") > 0 && col("_vy") > 0,
          round(col("_cxy") * col("_cxy") / (col("_vx") * col("_vy")), 6))
          .as("rho2"))
  }

  /** Theil T inequality index with within/between decomposition — the
    * additive cousin of [[giniShares]]/[[hhiConcentration]] (Gini says
    * how unequal; Theil says WHERE the inequality lives:
    * `T = Σ_g w_g·T_g + T_between` exactly). Computed on the
    * per-(group, value) DISTINCT-VALUE frame (the [[mannWhitneyU]]
    * discipline — one ln per distinct cell, never per row): each
    * cell's `ln(v·N_g/S_g)` pins to micro-nats, the data-sized
    * weighting `Σ m·v·term` is an exact decimal sum, and the final
    * per-group division clamps the mathematically-≥0 total at 0 (the
    * [[TextOps.jsDivergence]] clamp — micro rounding may push a
    * perfectly-equal group a few micro negative, where Spark trunc
    * and DuckDB floor would diverge). The between term is a per-row
    * double scalar chain (share · ln(share·N/N_g)), 6 d.p. — no float
    * sums. Non-positive values are excluded (ln undefined; the
    * documented domain contract).
    *
    * Emits one row per group: n, sum, weight share ppm, T_g micro,
    * between-term 6 d.p. Scale: one grouped cell count, cells bounded
    * by groups × distinct values.
    */
  def theilIndex(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.where(col(groupCol).isNotNull && col(valCol).isNotNull &&
        col(valCol).cast("long") > 0)
      .groupBy(col(groupCol).as("g"), col(valCol).cast("long").as("v"))
      .agg(count(lit(1)).as("m"))
    val perG = cells.groupBy("g")
      .agg(sum("m").as("n_g"), sum(expr(s"cast(m as $dec) * v")).as("s_g"))
    val tot = perG.agg(sum("n_g").as("n"), sum("s_g").as("s"))
    val within = cells.join(perG, Seq("g"))
      .withColumn("term_micro",
        round(lit(1e6) * log(col("v").cast("double") *
          expr("cast(n_g as double) / cast(s_g as double)"))).cast("long"))
      .groupBy("g")
      .agg(sum(expr(s"cast(m as $dec) * v * term_micro")).as("num"))
    perG.join(within, Seq("g")).crossJoin(broadcast(tot))
      .select(col("g").as(groupCol), col("n_g").as("n"),
        col("s_g").cast("long").as("sum_val"),
        expr("cast((1000000 * s_g) div s as long)").as("weight_ppm"),
        expr(s"cast(greatest(cast(0 as $dec), num) div s_g as long)")
          .as("theil_within_micro"),
        round(expr("cast(s_g as double) / cast(s as double)") *
          log(expr("cast(s_g as double) / cast(s as double)") *
            expr("cast(n as double) / cast(n_g as double)")), 6)
          .as("between_term"))
  }

  /** Two-proportion required sample size — the experiment-design verb
    * that closes the loop the readout family ([[srmCheck]] guards,
    * CUPED shrinks, SPRT sequences): per group, how many units PER ARM
    * does detecting a relative lift of `mdeRelPpm` over the observed
    * baseline rate take at the given α/power? The standard normal-
    * approximation formula
    * `n = (z_{α/2}·√(2·p̄·(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / (p₂−p₁)²`
    * with the two z quantiles pinned as caller-supplied MICRO constants
    * (defaults 1.959964 / 0.841621 — two-sided α = 0.05, power 0.8; no
    * inverse-normal evaluation anywhere). p₁ is the exact observed
    * rate; everything after is a per-row double scalar chain in pinned
    * order (no float sums), `ceil`ed to the released integer. p₁ = 0
    * or p₂ ≥ 1 ⇒ null (no finite design exists).
    *
    * Scale: one map-side-combinable grouped count; groups-sized after.
    */
  def requiredSampleSize(df: DataFrame, groupCol: String, convCol: String,
      mdeRelPpm: Long = 100000L, zAlphaMicro: Long = 1959964L,
      zBetaMicro: Long = 841621L): DataFrame = {
    require(mdeRelPpm > 0 && zAlphaMicro > 0 && zBetaMicro >= 0)
    val g = df.where(col(groupCol).isNotNull && col(convCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col(convCol).cast("long")).as("n_pos"))
    val za = zAlphaMicro / 1e6
    val zb = zBetaMicro / 1e6
    g.withColumn("p1", expr("cast(n_pos as double) / cast(n_obs as double)"))
      .withColumn("p2", col("p1") * (lit(1.0) + mdeRelPpm / 1e6))
      .withColumn("pbar", (col("p1") + col("p2")) / 2)
      .withColumn("_zsum", lit(za) * sqrt(lit(2.0) * col("pbar") *
        (lit(1.0) - col("pbar"))) +
        lit(zb) * sqrt(col("p1") * (lit(1.0) - col("p1")) +
          col("p2") * (lit(1.0) - col("p2"))))
      .select(col("g").as(groupCol), col("n_obs"), col("n_pos"),
        round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
        when(col("p1") > 0 && col("p2") < 1,
          ceil(col("_zsum") * col("_zsum") /
            ((col("p2") - col("p1")) * (col("p2") - col("p1"))))
            .cast("long")).as("n_per_arm"))
  }

  /** Holm–Bonferroni step-down — the FWER-controlling companion to
    * [[bhFdr]] (BH bounds the FALSE-DISCOVERY RATE; Holm bounds the
    * probability of ANY false positive — the right gate when one bogus
    * "significant" regression blocks a release). Walk p-values
    * ascending and reject while `p_(i) · (m − i + 1) ≤ α`; the first
    * failure stops everything after it (step-down — uniformly more
    * powerful than plain Bonferroni, no distributional assumptions).
    * All comparisons are exact integer cross-multiplications of ppm
    * p-values (the bhFdr discipline — no division anywhere).
    *
    * Scale: tests-frame-sized window (the suite of hypotheses is
    * bounded by design, never data-sized).
    */
  def holmBonferroni(tests: DataFrame, idCol: String, pPpmCol: String,
      alphaPpm: Long = 50000L): DataFrame = {
    require(alphaPpm > 0 && alphaPpm <= 1000000L)
    val w = Window.orderBy(col("p_ppm"), col("id"))
    tests
      .where(col(idCol).isNotNull && col(pPpmCol).isNotNull)
      .select(col(idCol).as("id"), col(pPpmCol).cast("long").as("p_ppm"))
      .crossJoin(broadcast(tests.agg(
        count(when(col(idCol).isNotNull && col(pPpmCol).isNotNull, 1))
          .as("m"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("_ff",
        min(when(col("p_ppm") * (col("m") - col("rank") + 1) > alphaPpm,
          col("rank"))).over(
          w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col("id").as(idCol), col("p_ppm"), col("rank"),
        (col("_ff").isNull || col("rank") < col("_ff")).as("rejected"))
  }

  /** Leave-one-group-out influence — the curation sensitivity audit
    * ("which source is dragging the corpus metric"): per group, the
    * overall mean recomputed WITHOUT that group and the delta it
    * causes, from one grouped aggregate (the totals make every
    * leave-one-out mean closed-form — no per-group rescan). Sums are
    * exact decimals of the caller-pinned integer metric; the two means
    * and the delta are per-row double chains in pinned order, 6 d.p.
    * A group that is the whole table ⇒ null (nothing remains).
    *
    * Scale: one map-side-combinable grouped sum; groups-sized after.
    */
  def leaveOneOutInfluence(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val per = df.where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_g"),
        sum(col(valCol).cast("long").cast(dec)).as("s_g"))
    val tot = per.agg(sum("n_g").as("n"), sum("s_g").as("s"))
    per.crossJoin(broadcast(tot))
      .select(col("g").as(groupCol), col("n_g"),
        round(expr("cast(s as double) / cast(n as double)"), 6)
          .as("mean_overall"),
        when(col("n") > col("n_g"),
          round(expr("cast(s - s_g as double) / cast(n - n_g as double)"),
            6)).as("mean_without"),
        when(col("n") > col("n_g"),
          round(expr("cast(s - s_g as double) / cast(n - n_g as double)") -
            expr("cast(s as double) / cast(n as double)"), 6))
          .as("influence"))
  }

  /** Stratified (blocking) average treatment effect — the
    * standardization estimator between [[diffInDiff]] (needs a time
    * axis) and [[cuped]] (needs a pre-metric): within each stratum the
    * arms are comparable, so the per-stratum mean difference is
    * unconfounded BY the stratifier, and the ATE is the
    * stratum-size-weighted sum. Each stratum's difference pins to
    * micro ONCE (per-row double chain of exact sums → round — the
    * entropy-rate discipline), so the weighted fold
    * `Σ n_h·diff_micro_h div N` is an EXACT integer sum, never a float
    * accumulation. Strata missing an arm release a null difference and
    * are EXCLUDED from the fold (N counts included strata only — a
    * one-armed stratum has no within-stratum contrast; silently
    * imputing 0 would bias toward null).
    *
    * Emits per-stratum rows (the diagnostic table) with the global
    * `ate_micro` repeated. Scale: one grouped aggregate, strata-sized
    * after.
    */
  def stratifiedAte(df: DataFrame, stratumCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val per = df.where(col(stratumCol).isNotNull && col(treatCol).isNotNull &&
        col(valCol).isNotNull)
      .select(col(stratumCol).as("h"), col(treatCol).cast("boolean").as("t"),
        col(valCol).cast("long").as("v"))
      .groupBy("h")
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("t"), col("v")).otherwise(0L).cast(dec)).as("s_t"),
        sum(when(!col("t"), col("v")).otherwise(0L).cast(dec)).as("s_c"))
      .withColumn("diff_micro",
        when(col("n_t") > 0 && col("n_c") > 0,
          round(lit(1e6) * (expr("cast(s_t as double) / cast(n_t as double)")
            - expr("cast(s_c as double) / cast(n_c as double)")))
            .cast("long")))
    val tot = per.where(col("diff_micro").isNotNull)
      .agg(sum(col("n_t") + col("n_c")).as("n_inc"),
        sum(expr(s"cast(n_t + n_c as $dec) * diff_micro")).as("wsum"))
    per.crossJoin(broadcast(tot))
      .select(col("h").as(stratumCol), col("n_t"), col("n_c"),
        col("diff_micro"),
        when(col("diff_micro").isNotNull && col("n_inc") > 0,
          expr("(1000000 * (n_t + n_c)) div n_inc")).as("weight_ppm"),
        when(col("n_inc") > 0,
          expr(s"cast(wsum div n_inc as long)")).as("ate_micro"))
  }

  /** Mantel–Haenszel pooled odds ratio — the stratified 2×2 pooling
    * that reads an exposure/outcome association WITHOUT the
    * confounding [[simpsonFlip]] detects: `OR_MH = Σ_h a·d/n_h ÷
    * Σ_h b·c/n_h` weights each stratum by its information, immune to
    * the marginal-table reversal. Each stratum's two terms pin to
    * micro once (exact integer products, one double division, round);
    * the cross-strata sums are exact integers; the released OR is the
    * single final division, 6 d.p. Zero denominator sum (no
    * discordant cells anywhere) ⇒ null.
    *
    * Scale: one grouped 2×2 aggregate; strata-sized after.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String, treatCol: String,
      outcomeCol: String): DataFrame = {
    val per = df.where(col(stratumCol).isNotNull && col(treatCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(stratumCol).as("h"), col(treatCol).cast("boolean").as("t"),
        col(outcomeCol).cast("boolean").as("y"))
      .groupBy("h")
      .agg(sum(when(col("t") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("t") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("t") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("t") && !col("y"), 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .where(col("n") > 0)
      .withColumn("r_micro", round(lit(1e6) *
        expr("cast(a as double) * d / cast(n as double)")).cast("long"))
      .withColumn("s_micro", round(lit(1e6) *
        expr("cast(b as double) * c / cast(n as double)")).cast("long"))
    per.agg(count(lit(1)).as("n_strata"),
        sum("r_micro").as("r_micro"), sum("s_micro").as("s_micro"))
      .select(col("n_strata"), col("r_micro"), col("s_micro"),
        when(col("s_micro") > 0,
          round(col("r_micro").cast("double") /
            col("s_micro").cast("double"), 6)).as("or_mh"))
  }

  /** Equal-width expected calibration error — the one-number summary
    * next to [[calibrationBins]]'s table (bins = fixed ppm-width score
    * slices, the standard ECE formulation; calibrationBins' equal-COUNT
    * bins answer a different question). Per bin the weighted gap
    * `|Σscore_ppm − 10⁶·n_pos|` is an exact integer, so
    * `ECE_ppm = Σ_b |gap_b| div N` and `MCE_ppm = max_b |gap_b| div n_b`
    * involve no float accumulation at all — scores enter as the q93
    * 6 d.p. contract and never leave integer space.
    *
    * Scale: one grouped aggregate over ≤ nBins cells; 1-row rollup.
    */
  def calibrationError(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000)
    val scored = df.where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(round(col(scoreCol) * 1000000).cast("long").as("ppm"),
        col(labelCol).cast("boolean").cast("long").as("y"))
      .withColumn("bin",
        least(lit(nBins - 1L), expr(s"(ppm * $nBins) div 1000000")))
    val bins = scored.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("ppm").as("sum_ppm"),
        sum("y").as("n_pos"))
      .withColumn("gap", abs(col("sum_ppm") - lit(1000000L) * col("n_pos")))
    bins.agg(sum("n").as("n"), count(lit(1)).as("n_bins_used"),
        sum("gap").as("_tg"), max(expr("gap div n")).as("mce_ppm"))
      .select(col("n"), col("n_bins_used"),
        when(col("n") > 0, expr("_tg div n")).as("ece_ppm"),
        col("mce_ppm"))
  }

  /** Iterative proportional fitting (raking) — reweight a two-way
    * contingency so its marginals match caller targets (the survey
    * statistician's move a corpus build needs when the crawl's
    * lang × source mix must hit a training-mix spec without per-cell
    * targets). Classic IPF: alternately scale every cell so row sums
    * match `rowTargets`, then column sums match `colTargets`,
    * `iters` times. This is the ORACLE-CHECKABLE integer variant
    * (the [[graft.ops.Similarity.kmeansInteger]] discipline): weights
    * live in micro units, each scale factor is ONE truncating
    * division of the micro-scaled target by the current marginal,
    * each cell update one decimal-widened product floored back to
    * micro — both engines replay the identical trajectory. Classical
    * IPF convergence carries over up to the 1e-6 truncation grain.
    *
    * Categories absent from a target list are DROPPED (inner join —
    * the targets define the frame); a target category with no data
    * stays absent (no mass can be created). A zero marginal mid-run
    * nulls its cells — loud, never a fabricated weight.
    *
    * Scale: ONE data-sized grouped count reduces the corpus to the
    * cell table; every round is two aggregates + two broadcast joins
    * over that bounded frame (cells ≤ |rows|·|cols|, the caller's
    * category cardinalities).
    */
  def ipfRaking(df: DataFrame, rowCol: String, colCol: String,
      rowTargets: Seq[(String, Long)], colTargets: Seq[(String, Long)],
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters out of range: $iters")
    require(rowTargets.nonEmpty && colTargets.nonEmpty)
    require(rowTargets.forall(_._2 >= 0) && colTargets.forall(_._2 >= 0))
    val spark = df.sparkSession
    import spark.implicits._
    val rt = broadcast(rowTargets.toDF("row", "rt"))
    val ct = broadcast(colTargets.toDF("col", "ct"))
    var cells = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .select(col(rowCol).cast("string").as("row"),
        col(colCol).cast("string").as("col"))
      .groupBy("row", "col").agg(count(lit(1)).as("n"))
      .join(rt, Seq("row")).join(ct, Seq("col")) // targets define the frame
      .select(col("row"), col("col"), col("n"), col("rt"), col("ct"),
        (col("n") * 1000000L).as("w"))
      .localCheckpoint() // bounded: |rows|·|cols| cells
    def scaleStep(keyCol: String, targetCol: String): DataFrame = {
      val marg = cells.groupBy(keyCol)
        .agg(sum("w").as("_m"), first(targetCol).as("_t"))
        // target is in COUNT units, the marginal in micro: the micro
        // ratio is target·10¹² div marginal — the product rides
        // decimal(38,0) (a Long target over ~9.2e6 would wrap the
        // plain-Long multiply silently in non-ANSI mode); `div` on
        // decimals still yields BIGINT, so _sc stays a long
        .select(col(keyCol),
          when(col("_m") > 0,
            expr("(cast(_t as decimal(38,0)) * 1000000000000) div _m"))
            .as("_sc"))
      cells.join(broadcast(marg), Seq(keyCol))
        .select(col("row"), col("col"), col("n"), col("rt"), col("ct"),
          expr("cast((cast(w as decimal(38,0)) * _sc) div 1000000" +
            " as bigint)").as("w"))
    }
    for (_ <- 1 to iters) {
      cells = scaleStep("row", "rt")
      cells = scaleStep("col", "ct").localCheckpoint() // per-round cut
    }
    cells.select(col("row"), col("col"), col("n"),
      col("w").as("w_micro"))
  }
}
