package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational combinators that Spark lacks as single built-ins. */
object Relational {

  /** Backward as-of join: for each left row, attach the single right row
    * with the same key and the greatest `tsRight <= tsLeft` (null-extended
    * when none exists). Join semantics for nulls: left rows with a null
    * key or timestamp never match (null-extended); right rows with a null
    * key or timestamp never participate — matching SQL equi-join rules
    * and DuckDB's native ASOF JOIN.
    *
    * Spark has no native as-of join; rather than a custom
    * `LogicalPlan`/`SparkPlan`, this composes built-ins with the classic
    * union-and-carry shape: tag both sides, union on (key, time), and
    * carry the most recent right payload forward into left rows with
    * `last(_, ignoreNulls)` over an ordered window. The payload is
    * carried as ONE struct, so all payload columns come from the same
    * right row even when individual payload values are null. One shuffle
    * on the key, one sort — the same cost profile a dedicated sort-merge
    * as-of operator would have, while staying visible to Catalyst.
    *
    * Right rows must be unique per (key, tsRight) — pre-aggregate
    * otherwise (ties would make the carried payload arbitrary; native
    * ASOF implementations share this caveat). `payloadCols` must not
    * collide with left column names.
    */
  def asOfJoinBackward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      payloadCols: Seq[String]): DataFrame = {
    val reserved = Seq("_k", "_t", "_side", "_p")
    require(payloadCols.forall(!left.columns.contains(_)),
      s"payloadCols ${payloadCols.filter(left.columns.contains)} collide with left columns")
    require(reserved.forall(!left.columns.contains(_)),
      s"left must not contain the reserved columns $reserved")
    val payloadStructType = org.apache.spark.sql.types.StructType(
      right.select(payloadCols.map(col): _*).schema.fields)
    // left rows with a null key or timestamp can never match: route them
    // around the shuffle entirely (a large null-key population would
    // otherwise pile into one window partition just to be nulled after)
    val lValid = left.where(col(leftKey).isNotNull && col(leftTs).isNotNull)
    val lNull = left.where(col(leftKey).isNull || col(leftTs).isNull)
      .withColumns(payloadCols.map(c => c -> lit(null)).toMap)
    val l = lValid.withColumn("_k", col(leftKey)).withColumn("_t", col(leftTs))
      .withColumn("_side", lit(1))
      .withColumn("_p", lit(null).cast(payloadStructType))
    val r = right
      .where(col(rightKey).isNotNull && col(rightTs).isNotNull)
      .select(col(rightKey).as("_k"), col(rightTs).as("_t"),
        lit(0).as("_side"), struct(payloadCols.map(col): _*).as("_p"))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // right rows sort before left rows at equal time (_side 0 < 1), so an
    // exactly-simultaneous right row is visible to the left row (ts >= ts)
    val w = Window.partitionBy("_k").orderBy("_t", "_side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
    val extracted = payloadCols.foldLeft(carried)((d, c) =>
      d.withColumn(c, col("_p").getField(c)))
    extracted
      .where(col("_side") === 1)
      .drop("_k", "_t", "_side", "_p")
      .unionByName(lNull)
  }

  /** Bucketed range join: all (left, right) pairs with
    * |leftTsMs − rightTsMs| ≤ toleranceMs — WITHOUT an equality key.
    * Spark plans a bare inequality join as BroadcastNestedLoopJoin (a
    * cross product at scale); the standard fix re-expresses the theta
    * join as an EQUI join on a time bucket of width `toleranceMs`: a
    * pair within tolerance differs by at most one bucket, so the left
    * side explodes to its bucket ± 1 (3 rows), joins on bucket equality
    * (hash shuffle, AQE-eligible), and the exact predicate filters the
    * false positives inside the bucket. Cost: 3×|left| + |right|
    * shuffled, each bucket bounded by rows-per-tolerance-window — the
    * quadratic blow-up is confined to pairs that genuinely collide in
    * time, exactly the df-pruning story of the dedup family applied to
    * the time axis.
    *
    * Column names must not collide across sides (select/rename first);
    * `_rb` is reserved.
    */
  def rangeJoin(left: DataFrame, right: DataFrame,
      leftTsMs: String, rightTsMs: String, toleranceMs: Long): DataFrame = {
    require(toleranceMs > 0)
    require(left.columns.intersect(right.columns).isEmpty,
      "rangeJoin sides must have disjoint column names")
    require(!left.columns.contains("_rb") && !right.columns.contains("_rb"),
      "_rb is reserved by rangeJoin")
    val lBucket = floor(col(leftTsMs) / toleranceMs)
    val l = left.withColumn("_rb",
      explode(array(lBucket - 1, lBucket, lBucket + 1)))
    val r = right.withColumn("_rb", floor(col(rightTsMs) / toleranceMs))
    l.join(r, "_rb")
      .where(abs(col(leftTsMs) - col(rightTsMs)) <= toleranceMs)
      .drop("_rb")
  }

  /** Keep-last upsert: rows of `fresh` replace same-key rows of `base`
    * (pandas `concat` + drop-dup keep='last' semantics — reference:
    * advanced_elb_logs_etl.py:244-246). `dropDuplicates` alone keeps an
    * arbitrary row, so source priority is made explicit and resolved with
    * a `row_number` window. One shuffle on the key — at scale this is the
    * canonical SCD-1 merge shape.
    *
    * Precondition: each side is unique per key. With duplicate keys
    * *within* a side there is no further ordering to break the tie and
    * the survivor among same-side duplicates is arbitrary (pandas'
    * keep='last' uses input order, which a distributed frame doesn't
    * have); deduplicate per side first if that matters.
    */
  def keepLastUpsert(base: DataFrame, fresh: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_src").desc)
    base.withColumn("_src", lit(0))
      .unionByName(fresh.withColumn("_src", lit(1)), allowMissingColumns = true)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Slowly-changing-dimension type 2 build: turn a change log (one row
    * per observed version of a key) into validity intervals. Each row
    * gains `valid_from_ms` (its own event time), `valid_to_ms` (the NEXT
    * version's event time, null for the key's latest version — half-open
    * [from, to) intervals, the lakehouse-standard SCD2 encoding), and
    * `is_current`.
    *
    * `tieCol` must make (key, ts, tie) a total order — simultaneous
    * versions otherwise have no defined succession (same caveat every
    * MERGE-based SCD2 implementation carries).
    *
    * One shuffle + one sort on the key — a single `lead` window; at
    * scale this is exactly the cost of the sessionization family, and
    * the output joins back to facts as a range join ([[rangeJoin]]) or
    * as-of join ([[asOfJoinBackward]]).
    */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("valid_from_ms", unix_millis(col(tsCol).cast("timestamp")))
      .withColumn("valid_to_ms",
        unix_millis(lead(col(tsCol), 1).over(w).cast("timestamp")))
      .withColumn("is_current", col("valid_to_ms").isNull)
  }

  /** Incremental SCD2 maintenance — fold ONE batch of new change rows
    * into an existing [[scd2]] dimension table, recomputing validity
    * intervals ONLY for keys the batch touches. The nightly/streaming
    * merge shape: at 100 TB the dimension is billions of rows but a
    * batch touches a sliver of keys, so the rebuild joins are
    * batch-key-sized (broadcastable) and the untouched mass moves
    * through one anti-join untouched — never re-windowed, never
    * re-shuffled by key.
    *
    * `state` must have [[scd2]]'s output schema for the same column
    * set as `changes` (payload + `valid_from_ms`/`valid_to_ms`/
    * `is_current`); affected keys' history is REPLAYED from
    * `valid_from_ms` (exact ms round-trip of the original timestamps)
    * and re-windowed together with the new rows, so out-of-order and
    * intra-batch-duplicate changes land exactly as a full rebuild
    * would — fold(batches)(scd2MergeBatch) ≡ scd2(all changes), the
    * law the oracle checks.
    *
    * PRECONDITION — millisecond-grain timestamps: the replay
    * reconstructs `tsCol` from `valid_from_ms`, so a source timestamp
    * carrying sub-ms precision loses it across a merge, and two
    * versions of a key inside the same millisecond re-order by
    * `tieCol` instead of their true order — silently breaking the
    * fold ≡ rebuild law. Truncate to ms upstream (`date_trunc`), or
    * widen the validity columns to µs, before trusting this on
    * µs-grain sources.
    */
  def scd2MergeBatch(state: DataFrame, changes: DataFrame, keyCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val affected = changes.select(col(keyCol)).distinct()
    val untouched = state.join(affected, Seq(keyCol), "left_anti")
    val replayed = state.join(affected, Seq(keyCol), "left_semi")
      .drop("valid_to_ms", "is_current")
      .withColumn(tsCol, expr("timestamp_millis(valid_from_ms)"))
      .drop("valid_from_ms")
    val rebuilt = scd2(replayed.unionByName(changes), keyCol, tsCol, tieCol)
      .drop(tsCol)
    untouched.unionByName(rebuilt)
  }

  /** CDC apply: collapse a change log (upserts + deletes) onto a base
    * snapshot — the MERGE a lakehouse table runs per ingest cycle.
    * Per key, only the LAST log entry by (`tsCol`, `tieCol`) counts:
    * op `"D"` removes the key, anything else upserts the log row's
    * payload (an upsert on an absent key inserts — CDC logs don't
    * distinguish I/U reliably, so neither does the apply). Base rows
    * with no log entry pass through.
    *
    * `log`'s payload columns (everything except op/ts/tie) must equal
    * `base`'s columns. Cost: one window on the key over the LOG only
    * (logs are deltas — small relative to base), one anti-join, one
    * union — base is never shuffled when the log side broadcasts,
    * which is the common nightly-merge shape.
    */
  def applyCdc(base: DataFrame, log: DataFrame, keyCol: String,
      tsCol: String, tieCol: String, opCol: String = "op"): DataFrame = {
    val payload = log.columns.filterNot(Seq(tsCol, tieCol, opCol).contains)
    require(payload.sorted.sameElements(base.columns.sorted),
      s"log payload ${payload.toSeq} must match base columns ${base.columns.toSeq}")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    val last = log.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
    val untouched = base.join(last.select(col(keyCol)), Seq(keyCol), "left_anti")
    untouched.unionByName(
      last.where(col(opCol) =!= "D").select(payload.map(col): _*))
  }

  /** Snapshot diff — the inverse of [[applyCdc]]: derive the change log
    * between two keyed snapshots. Emits one row per differing key:
    * `op` ∈ I (only in `newDf`) / D (only in `oldDf`) / U (in both with
    * any `compareCols` value differing, null-safe), with `changed_cols`
    * the comma-joined names of differing columns (empty for I/D);
    * unchanged keys emit nothing — the property that makes the diff
    * shippable as a delta.
    *
    * Cost: one full outer equi-join on the key (one exchange per side,
    * or zero with both snapshots bucketed on the key — the nightly
    * snapshot-compare shape) and per-row column compares; no window, no
    * driver state. Diff-then-[[applyCdc]] round-trips the new snapshot.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one column to compare")
    val o = oldDf.select(col(keyCol).as("_ok") +:
      compareCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = newDf.select(col(keyCol).as("_nk") +:
      compareCols.map(c => col(c).as(s"_n_$c")): _*)
    val diffs = compareCols.map(c =>
      when(!(col(s"_o_$c") <=> col(s"_n_$c")), lit(c)))
    o.join(n, col("_ok") === col("_nk"), "full_outer")
      .withColumn("op",
        when(col("_ok").isNull, lit("I"))
          .when(col("_nk").isNull, lit("D"))
          .when(diffs.map(_.isNotNull).reduce(_ || _), lit("U")))
      .where(col("op").isNotNull)
      .withColumn("changed_cols",
        // concat_ws skips nulls, so only differing names remain
        when(col("op") === "U", concat_ws(",", diffs: _*)).otherwise(lit("")))
      .select(coalesce(col("_ok"), col("_nk")).as("key"),
        col("op"), col("changed_cols"))
  }

  /** One level of a referential-integrity delete cascade (the
    * GDPR/right-to-be-forgotten propagation step): rows of `child`
    * whose `fkCol` matches a parent key marked deleted. Returned as the
    * DELETED set — callers anti-join for survivors or feed the step's
    * own keys into the next level.
    */
  def cascadeStep(child: DataFrame, fkCol: String,
      parentKeys: DataFrame): DataFrame =
    child.join(parentKeys.select(col(parentKeys.columns.head).as(fkCol))
      .distinct(), Seq(fkCol), "left_semi")

  /** Incremental equi-join view maintenance — the delta rule
    * `ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB` folded over an arbitrary interleaving of
    * batch arrivals on either side. Each arriving delta joins ONLY the
    * other side's accumulated state (never re-joining old deltas
    * against old state), so every (a, b) pair lands in the view exactly
    * once: when the LATER of its two rows arrives. The maintained view
    * must equal the one-shot join of the full sides — that law IS the
    * oracle gate.
    *
    * Scale shape: per step, one batch-vs-state equi-join (broadcast
    * when the delta is small — the common case) plus a union; view and
    * accumulators materialize through [[graft.Checkpoint]]
    * each step, so lineage and carried size estimates stay flat across
    * arbitrarily many batches (at cluster scale the checkpoint maps to
    * the view's durable table, exactly how production IVM persists).
    *
    * `events` is `(isLeftSide, batch)` in arrival order; both sides'
    * frames must share the join column `key`.
    */
  def incrementalJoinFold(events: Seq[(Boolean, DataFrame)],
      key: String): DataFrame = {
    require(events.exists(_._1) && events.exists(!_._1),
      "incrementalJoinFold needs at least one batch on each side")
    var view: Option[DataFrame] = None
    var aAcc: Option[DataFrame] = None
    var bAcc: Option[DataFrame] = None
    def staged(df: DataFrame) = graft.Checkpoint(df)._1
    def accum(acc: Option[DataFrame], d: DataFrame) =
      Some(acc.map(a => staged(a.unionByName(d))).getOrElse(d))
    events.foreach { case (isA, delta0) =>
      val delta = staged(delta0)
      val contrib =
        if (isA) bAcc.map(b => delta.join(b, Seq(key)))
        else aAcc.map(a => a.join(delta, Seq(key)))
      contrib.foreach { dv =>
        view = Some(view.map(v => staged(v.unionByName(dv))).getOrElse(dv))
      }
      if (isA) aAcc = accum(aAcc, delta) else bAcc = accum(bAcc, delta)
    }
    view.getOrElse {
      // both sides non-empty per the require, so a contribution exists
      // unless every join was empty — rebuild the empty-view schema
      aAcc.get.join(bAcc.get, Seq(key)).limit(0)
    }
  }

  /** Incremental AGGREGATE-view maintenance — the Δ-fold law for
    * grouped (count, sum, min, max): each arriving batch is aggregated
    * ALONE (delta-sized work) and merged into the keyed state by the
    * combine algebra (count+count, sum+sum, min/min, max/max) — counts
    * and sums are self-inverse under retraction too, but this fold is
    * append-only, the common ingest shape. The LAW (and the oracle):
    * fold(batches) ≡ one-shot aggregate over their union; the merge is
    * associative, so any batch arrival order yields the same view.
    *
    * Scale note: the union+re-agg merge shuffles state + delta per
    * step; a deployment keeps the state BUCKETED on the key so only
    * delta-touched partitions rewrite (the q183 sidecar discipline) —
    * the fold algebra here is the part both layouts share.
    */
  def incrementalAggFold(batches: Seq[DataFrame], keyCol: String,
      valueCol: String): DataFrame = {
    require(batches.nonEmpty, "fold at least one batch")
    def aggOf(df: DataFrame) = df
      .where(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(col(valueCol)).as("n"), sum(col(valueCol)).as("s"),
        min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    batches.map(aggOf).reduce { (state, delta) =>
      graft.Checkpoint(state.unionByName(delta)
        .groupBy(col(keyCol))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
          min(col("mn")).as("mn"), max(col("mx")).as("mx")))._1
    }
  }

  /** Per-group 2-D Pareto frontier (skyline), both dimensions
    * maximized: keep exactly the rows no other row of the same group
    * weakly dominates (`x′ ≥ x ∧ y′ ≥ y`, one strict). Exact-tie
    * (x, y) duplicates dominate nobody and are all kept. The curation
    * shape behind "recent AND high-value", "long AND high-quality" —
    * a threshold on either axis alone throws away the trade-off curve.
    *
    * NEVER a dominance self-join (all-pairs): a row is on the frontier
    * iff `y = max(y | same x)` and `y > max(y | any larger x)` — so
    * one (group, x)-level max aggregate, one cumulative-max window
    * over that DISTINCT-x frame (value-cardinality bounded, the
    * ksDrift discipline), and one hash join back. All comparisons on
    * exact integers supplied by the caller (cents / epoch ms).
    */
  def paretoFrontier(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val rows = df.where(col(groupCol).isNotNull &&
      col(xCol).isNotNull && col(yCol).isNotNull)
    val perX = rows.groupBy(col(groupCol).as("g"), col(xCol).as("x"))
      .agg(max(col(yCol)).as("ymax"))
    val wPref = Window.partitionBy("g").orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val edge = perX.withColumn("pref", max("ymax").over(wPref))
      .where(col("pref").isNull || col("pref") < col("ymax"))
    rows.join(edge,
        rows(groupCol) === edge("g") && rows(xCol) === edge("x") &&
          rows(yCol) === edge("ymax"),
        "left_semi")
  }

  /** [[asOfJoinBackward]] with a MAX-STALENESS tolerance — pandas
    * `merge_asof(tolerance=...)` semantics: the latest right row at or
    * before the left timestamp matches only while it is at most
    * `toleranceMs` old; a staler match is nulled exactly like no match
    * (a quote from last week must not price today's trade). The right
    * timestamp rides the carried payload struct, so tolerance costs no
    * extra shuffle — one added comparison after the same single-window
    * plan. Timestamp columns must be epoch-ms longs (the repo-wide
    * cross-engine time representation).
    */
  def asOfJoinBackwardTolerant(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      payloadCols: Seq[String], toleranceMs: Long): DataFrame = {
    require(toleranceMs >= 0, "toleranceMs must be >= 0")
    val rts = "_asof_rts"
    require(!left.columns.contains(rts) && !right.columns.contains(rts))
    val joined = asOfJoinBackward(left,
      right.withColumn(rts, col(rightTs)), leftKey, rightKey,
      leftTs, rightTs, payloadCols :+ rts)
    val stale = col(rts).isNull ||
      col(leftTs).cast("long") - col(rts).cast("long") > toleranceMs
    payloadCols.foldLeft(joined)((d, c) =>
      d.withColumn(c, when(stale, lit(null)).otherwise(col(c))))
      .drop(rts)
  }

  /** Survivorship merge — MDM's golden-record verb: per cluster, each
    * FIELD independently takes its value from the latest row where
    * that field is non-null (`seqCol` order, `tieCol` breaking exact
    * ties), so a record missing its email doesn't clobber the email a
    * staler record carried. One grouped aggregate: per field,
    * `max(struct(seq, tie, value))` over the non-null rows — the
    * packed-argmax discipline, no windows, no self-joins. Emits
    * `(cluster, n_members, fields…)`.
    */
  def survivorshipMerge(df: DataFrame, clusterCol: String, seqCol: String,
      tieCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "no fields to merge")
    val aggs = count(lit(1)).as("n_members") +:
      fields.map { f =>
        max(when(col(f).isNotNull,
          struct(col(seqCol).as("_s"), col(tieCol).as("_i"),
            col(f).as("_v"))))
          .getField("_v").as(f)
      }
    df.where(col(clusterCol).isNotNull)
      .groupBy(col(clusterCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Bitemporal point-in-time read — the two-axis as-of a regulated
    * lakehouse answers: "what did we BELIEVE at transaction time T
    * about the state VALID at V?" Per key, the row maximizing
    * `(valid_from, tx_from, tie)` among rows with `valid_from ≤ V` and
    * `tx_from ≤ T` — one filtered scan + one packed-argmax aggregate,
    * never a window over data (q170's one-axis as-of is the special
    * case T = ∞). Keys with no qualifying version are absent.
    */
  def bitemporalAsOf(versions: DataFrame, keyCol: String,
      validCol: String, txCol: String, tieCol: String,
      payloadCols: Seq[String], validAt: Long, txAt: Long): DataFrame = {
    val picked = versions
      .where(col(keyCol).isNotNull && col(validCol).isNotNull &&
        col(txCol).isNotNull &&
        col(validCol) <= validAt && col(txCol) <= txAt)
      .groupBy(col(keyCol))
      .agg(max(struct((Seq(validCol, txCol, tieCol) ++ payloadCols)
        .map(col): _*)).as("_m"))
    (Seq(validCol, txCol) ++ payloadCols)
      .foldLeft(picked)((d, c) => d.withColumn(c, col("_m").getField(c)))
      .drop("_m")
  }

  /** SCD2 validity audit — the data-quality gate on a slowly-changing
    * dimension: per key, versions ordered (from, to NULLS LAST) must
    * tile time without overlap, carry at most one open (null-`to`)
    * version, and keep it LAST. Emits one row per key:
    * `(key, n_versions, n_overlaps, n_gaps, n_current,
    * n_dangling_current, ok)` — overlap ⇔ `from < prev to` (half-open
    * intervals), gap ⇔ `from > prev to` (counted separately: gaps are
    * legitimate in some dimensions, overlaps never are), dangling ⇔ an
    * open version followed by another version. `ok` ⇔ no overlap, ≤ 1
    * current, no dangling. One window per key + one grouped aggregate;
    * key-parallel at any dimension size.
    */
  def scd2ValidityAudit(dim: DataFrame, keyCol: String, fromCol: String,
      toCol: String): DataFrame = {
    val rows = dim.where(col(keyCol).isNotNull && col(fromCol).isNotNull)
      .select(col(keyCol).as("k"), col(fromCol).cast("long").as("f"),
        col(toCol).cast("long").as("t"))
    val w = Window.partitionBy("k")
      .orderBy(col("f").asc, col("t").asc_nulls_last)
    val flagged = rows
      .withColumn("prev_t", lag("t", 1).over(w))
      .withColumn("next_f", lead("f", 1).over(w))
      .select(col("k"),
        when(col("prev_t").isNotNull && col("f") < col("prev_t"), 1L)
          .otherwise(0L).as("ov"),
        when(col("prev_t").isNotNull && col("f") > col("prev_t"), 1L)
          .otherwise(0L).as("gp"),
        when(col("t").isNull, 1L).otherwise(0L).as("cur"),
        when(col("t").isNull && col("next_f").isNotNull, 1L)
          .otherwise(0L).as("dangling"))
    flagged.groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_versions"), sum("ov").as("n_overlaps"),
        sum("gp").as("n_gaps"), sum("cur").as("n_current"),
        sum("dangling").as("n_dangling_current"))
      .withColumn("ok", col("n_overlaps") === 0 && col("n_current") <= 1 &&
        col("n_dangling_current") === 0)
  }

  /** Bloom-style runtime pre-filter join — the "semi-join pushdown"
    * pattern for a big-big equi-join where the probe side is huge but
    * the match rate is low: derive two md5 bit positions per build-side
    * key, keep the DISTINCT position set (≤ `bits` rows — the "bitmap"
    * as a relation, broadcast-able at ANY build-side size), and admit a
    * probe row only when BOTH its positions are present, BEFORE the
    * shuffle join. No false negatives exist (a true key's bits are in
    * the set by construction), so the exact join afterwards removes
    * only false positives and the LAW `bloomFilteredJoin ≡ plain join`
    * holds bit-for-bit — the oracle IS the plain join. At 100 TB the
    * win is shuffle volume: non-matching probe rows die at the scan
    * instead of crossing the wire.
    */
  def bloomFilteredJoin(big: DataFrame, small: DataFrame, key: String,
      bits: Int = 1024, joinType: String = "inner"): DataFrame = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      "bits must be a power of two >= 64")
    def pos(i: Int, c: org.apache.spark.sql.Column) =
      pmod(graft.functions.HashExpressions.md5Prefix64(concat(lit(s"bf$i|"), c.cast("string")), 15), lit(bits.toLong))
    val posSet = small.where(col(key).isNotNull)
      .select(explode(array(pos(0, col(key)), pos(1, col(key)))).as("p"))
      .distinct()
    val probed = big
      .withColumn("_p0", pos(0, col(key)))
      .withColumn("_p1", pos(1, col(key)))
      .join(broadcast(posSet.withColumnRenamed("p", "_p0")), Seq("_p0"),
        "left_semi")
      .join(broadcast(posSet.withColumnRenamed("p", "_p1")), Seq("_p1"),
        "left_semi")
      .drop("_p0", "_p1")
    probed.join(small, Seq(key), joinType)
  }

  /** Audit summary of a delete cascade level: `(tbl, n_before,
    * n_deleted, del_digest)` where the digest is the order-independent
    * 60-bit-md5 XOR of the deleted rows' `keyExpr` — one row that pins
    * EXACTLY which rows a cascade level removed (the [[graft.ops
    * .Integrity]] discipline: count catches multiplicity, XOR catches
    * identity). `keyExpr` must be row-unique within the table.
    */
  def cascadeAudit(tbl: String, all: DataFrame, deleted: DataFrame,
      keyExpr: org.apache.spark.sql.Column): DataFrame = {
    val nb = all.groupBy().agg(count(lit(1)).as("n_before"))
    deleted.select(graft.functions.HashExpressions.md5Prefix64(keyExpr.cast("string"), 15).as("rh"))
      .groupBy().agg(count(lit(1)).as("n_deleted"),
        coalesce(expr("bit_xor(rh)"), lit(0L)).as("del_digest"))
      .crossJoin(nb)
      .select(lit(tbl).as("tbl"), col("n_before"), col("n_deleted"),
        col("del_digest"))
  }
}
