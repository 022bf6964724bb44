package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine (SURVEY.md §2.10): the
  * reference's rerun-over-files batch model maps onto a file-source stream
  * with `Trigger.AvailableNow`, and its gap sessionization onto
  * `session_window` (declarative) or `flatMapGroupsWithState` (custom
  * state), both over event-time.
  *
  * Scale notes: session_window aggregation shuffles once on the grouping
  * key and merges windows inside the state store; watermarking (`withWatermark`)
  * bounds state for continuous runs — `AvailableNow` batch-drains don't
  * need it and the reference has no late-data policy to reproduce.
  */
object StreamingSessions {

  /** File-source stream over the events table, `ts` normalized to
    * TimestampType. The file streaming source needs an up-front schema, and
    * the testdata's `ts` physical dtype has changed between generations
    * (ns int64 vs µs timestamp) — so the stream schema is taken from the
    * batch scan of the same file (one footer read, no data scan) rather
    * than hard-coded, and the same dtype-adaptive conversion as the batch
    * loader ([[graft.queries.Tables.normalizeEventTs]]) is applied.
    * (The file streaming source requires a directory or glob — a glob
    * matching the single parquet file keeps the testdata layout intact.)
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.queries.Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(s"$dir/events.parque*"))
  }

  /** Declarative gap sessionization: one session row per
    * (user, 30-min-gap session) with epoch-ms bounds and event count.
    * `session_window` end = last event + gap, matching the SQL oracle's
    * `max(ts)+30min`.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"))

  /** Shared bounded-drain recipe: run a streaming aggregate to completion
    * (`AvailableNow`) into a memory sink and return the result as a
    * LOCAL frame. The memory sink already holds the full result in
    * driver memory, so snapshotting adds nothing — and it lets the sink
    * table be dropped immediately: keeping one registered memory table
    * per invocation (bench warm-up + iterations + verify share a JVM) is
    * an unbounded-growth pattern even when each table is small.
    *
    * Two drain-shape configs, scoped to the query and restored after:
    *
    *  - `noDataBatch = false` skips the trailing no-data micro-batch.
    *    That batch exists to advance the watermark and run state
    *    EVICTION/TIMEOUT work after the last data batch — for every
    *    current drain user (Complete-mode aggregates, append
    *    `dropDuplicatesWithinWatermark`, append INNER stream-stream
    *    joins) it emits zero rows and the query's checkpoint is deleted
    *    on exit anyway, so it is pure teardown cost (measured: 45% of
    *    q101's wall time — the batch re-scans every state row to evict
    *    it). MUST be set `true` for any query whose OUTPUT depends on a
    *    watermark close: append-mode windowed/session aggregation, outer
    *    stream-stream joins, `EventTimeTimeout` state flushes — those
    *    emit their final rows IN the no-data batch.
    *  - `stateParts` sizes `spark.sql.shuffle.partitions` for the
    *    streaming query (captured at `start()`): state-store instances
    *    scale with it (4 per partition for a stream-stream join), and a
    *    one-shot drain's state volume is small, so fewer, fuller stores
    *    beat 32 near-empty ones (measured: 32→8 halves q101 again).
    *    Production continuous jobs size this to state volume ÷ executor
    *    memory instead.
    */
  def drainAvailableNow(spark: SparkSession, aggregated: DataFrame,
      tableName: String,
      outputMode: OutputMode = OutputMode.Complete(),
      // deliberately NO default: skipping the no-data batch silently
      // loses the final rows of any query whose output depends on a
      // watermark close (append-mode windowed/session aggregation,
      // outer stream-stream joins, EventTimeTimeout flushes). Every
      // caller states the choice at the call site.
      noDataBatch: Boolean,
      stateParts: Int = 8): DataFrame = {
    val checkpoint = java.nio.file.Files
      .createTempDirectory(s"ckpt-$tableName")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val oldNoData = spark.conf.get(noDataKey, "true")
    val oldParts = spark.conf.get(partsKey)
    spark.conf.set(noDataKey, noDataBatch.toString)
    spark.conf.set(partsKey, stateParts.toString)
    try {
      val q = aggregated.writeStream
        .format("memory")
        .queryName(tableName)
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set(noDataKey, oldNoData)
      spark.conf.set(partsKey, oldParts)
      graft.Staging.deleteTree(checkpoint) // bounded drain: state is one-shot,
      // so the checkpoint has no replay value — leaving it would
      // accumulate one orphan ckpt-* dir per bench/test invocation
    }
    val sink = spark.table(tableName)
    val rows = sink.collect()
    spark.catalog.dropTempView(tableName)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), sink.schema)
  }

  /** Drain the session-window aggregation over the whole file source. */
  def runAvailableNow(spark: SparkSession, dir: String,
      tableName: String = "stream_sessions"): DataFrame =
    drainAvailableNow(spark, sessionWindowAgg(readEventsStream(spark, dir)),
      tableName, noDataBatch = false) // Complete mode: teardown-only batch

  /** Sliding-window traffic aggregation (the reference's rolling-window
    * analogue in streaming form): 1-hour windows sliding every 15 min,
    * count per (window, event_type). Epoch-aligned like batch `window()`.
    */
  def slidingWindowAgg(events: DataFrame, windowDur: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        unix_millis(col("w.start")).as("window_start_ms"),
        unix_millis(col("w.end")).as("window_end_ms"),
        col("n"))

  /** Drain the sliding-window aggregation with AvailableNow → memory. */
  def runSlidingAvailableNow(spark: SparkSession, dir: String,
      tableName: String): DataFrame =
    drainAvailableNow(spark, slidingWindowAgg(readEventsStream(spark, dir)),
      tableName, noDataBatch = false) // Complete mode: teardown-only batch

  // ——— custom-state variant: the shape a pipeline uses when session logic
  //     outgrows session_window (per-session features, custom expiry)

  case class Ev(user_id: Long, ts_us: Long)
  case class SessionOut(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long)
  case class SessState(startUs: Long, lastUs: Long, n: Long)

  /** flatMapGroupsWithState sessionizer, *incremental*: the open session
    * (if any) is carried in state across micro-batches; a batch's events
    * extend it or close it. Closed sessions are emitted as soon as a later
    * event proves the gap.
    *
    * Late-data policy (no watermark buffering here): an event within the
    * gap of the open session's span joins it (extending start/end without
    * regressing them); an event older than `start - gap` cannot belong to
    * any known session and is emitted immediately as its own orphan
    * session. A watermark-buffered variant would reorder instead —
    * deliberate simplicity, documented trade-off.
    *
    * Open-session flushing: with `flushOpen = true` (bounded drains that
    * see all data per batch) the open session is emitted and state
    * cleared at batch end. With `flushOpen = false` the open session is
    * held in state indefinitely — suitable for tests and bounded
    * multi-batch replays; a continuous production query uses
    * [[statefulSessionizeWithTimeout]], which adds the watermark +
    * `EventTimeTimeout` flush that keeps state bounded.
    */
  /** Merge one sorted batch of event times (µs) into the carried open
    * session. Returns (closed sessions, open session or null) — shared by
    * both sessionizer variants.
    *
    * Orphaned late events: older than the carried session's reach
    * (start - gap) — they belong to earlier sessions we no longer hold.
    * Sorted ascending they form the batch prefix (fixed cutoff), and are
    * gap-sessionized among THEMSELVES so adjacent orphans merge instead
    * of emitting overlapping singletons. Late events inside the session's
    * reach join it but must not move the end backwards — otherwise the
    * next on-time event sees a false gap.
    */
  private def mergeBatch(carried: Option[SessState], sortedUs: Seq[Long],
      gapUs: Long): (List[SessState], SessState) = {
    val closed = scala.collection.mutable.ListBuffer.empty[SessState]
    val cutoff = carried.map(_.startUs - gapUs).getOrElse(Long.MinValue)
    val (lateEvs, mainEvs) = sortedUs.partition(_ <= cutoff)
    var orphan: SessState = null
    lateEvs.foreach { us =>
      if (orphan == null) orphan = SessState(us, us, 1)
      else if (us - orphan.lastUs >= gapUs) {
        closed += orphan
        orphan = SessState(us, us, 1)
      } else orphan = orphan.copy(lastUs = us, n = orphan.n + 1)
    }
    // the last orphan session is still > gap away from the carried open
    // session (lastUs <= cutoff = start - gap), so it closes too
    if (orphan != null) closed += orphan
    var open = carried.orNull
    mainEvs.foreach { us =>
      if (open == null) open = SessState(us, us, 1)
      else if (us - open.lastUs >= gapUs) {
        closed += open
        open = SessState(us, us, 1)
      } else open = open.copy(
        startUs = math.min(open.startUs, us),
        lastUs = math.max(open.lastUs, us),
        n = open.n + 1)
    }
    (closed.toList, open)
  }

  def statefulSessionize(events: Dataset[Ev], gapUs: Long,
      flushOpen: Boolean = true)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[SessState]) =>
          val (closed, open) =
            mergeBatch(state.getOption, evs.map(_.ts_us).toSeq.sorted, gapUs)
          val out = if (flushOpen && open != null) {
            state.remove()
            (closed :+ open).iterator
          } else {
            if (open != null) state.update(open) else state.remove()
            closed.iterator
          }
          out.map(s => SessionOut(uid, s.startUs / 1000, (s.lastUs + gapUs) / 1000, s.n))
      }
  }

  /** Event with an event-time column the engine can watermark (ms
    * precision — the watermark clock is milliseconds).
    */
  case class EvT(user_id: Long, ts: java.sql.Timestamp)

  /** Continuous-mode sessionizer: the `EventTimeTimeout` + watermark
    * variant of [[statefulSessionize]]. An open session is flushed when
    * the watermark passes its deadline (last event + gap), so state is
    * bounded by the number of *concurrently open* sessions — not by run
    * length — and quiet users still get their final session emitted
    * without waiting for their next event. `watermarkDelay` is the
    * lateness budget: events later than it may be treated as orphans.
    */
  def statefulSessionizeWithTimeout(events: Dataset[EvT], gapUs: Long,
      watermarkDelay: String = "10 minutes")(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, evs, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's deadline: flush + clear
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.startUs / 1000, (s.lastUs + gapUs) / 1000, s.n))
          } else {
            val sorted = evs.map(_.ts.getTime * 1000L).toSeq.sorted
            val (closed, open) = mergeBatch(state.getOption, sorted, gapUs)
            if (open != null) {
              state.update(open)
              // flush when the watermark proves the gap; the timestamp
              // must stay above the current watermark or Spark rejects it
              val deadlineMs = (open.lastUs + gapUs) / 1000
              state.setTimeoutTimestamp(
                math.max(deadlineMs, state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            closed.iterator
              .map(s => SessionOut(uid, s.startUs / 1000, (s.lastUs + gapUs) / 1000, s.n))
          }
      }
  }
}
