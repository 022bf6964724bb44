package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster/label-quality evaluation — the "is this clustering any good"
  * report a curation pipeline runs after SemDeDup-style clustering or a
  * labeling pass, before trusting the groups for mixture weights or
  * leakage-safe splits.
  *
  * Float discipline (the q129/q132 rule): per-pair Euclidean distance
  * goes through ONE correctly-rounded `sqrt`, is immediately rounded to
  * integer micro units, and every aggregation from there on sums exact
  * BIGINTs — a float SUM whose partition order could differ between
  * engines never appears. Final scores are fixed-order double
  * expressions over already-rounded means.
  */
object Evaluation {

  /** Per-point silhouette score over a labeled embedding table:
    * `a` = mean distance to the point's OWN label-mates (self excluded),
    * `b` = the smallest per-foreign-label mean distance, and
    * `s = (b − a) / max(a, b)` — +1 = well placed, 0 = on a boundary,
    * negative = probably mislabeled. Singleton labels have no `a`;
    * following the standard convention their `s` is 0 (`a`/`b` still
    * reported, `a` null).
    *
    * Distances are milli-quantized Euclidean, rounded to micro units
    * BEFORE summation (header discipline); each per-cluster mean is a
    * TRUNCATING integer division into micro-milli units (a float mean
    * at this magnitude would need 16 significant digits — past double
    * precision), so the min / subtraction / max walk exact integers and
    * the single float is the final ratio.
    *
    * Scale shape: this is the exact all-pairs verifier — cost n² inside
    * the evaluated sample, one exchange on the pair block. At corpus
    * scale, evaluate a capped deterministic sample (the md5-lattice
    * bucket, q53's shape) or swap the exact `b` for the
    * distance-to-foreign-CENTROID approximation ([[Similarity]]'s
    * centroid machinery) — the sampled report is the documented
    * production path, this is its ground truth.
    */
  def silhouette(emb: DataFrame, idCol: String = "vec_id",
      labelCol: String = "label", vecCol: String = "embedding"): DataFrame = {
    val m = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      transform(col(vecCol), x => round(x.cast("double") * 1000).cast("long"))
        .as("mv"))
    val pairs = m.as("x").join(m.as("y"), col("x.id") =!= col("y.id"))
      .select(col("x.id").as("i"), col("x.lbl").as("li"),
        col("y.lbl").as("lj"),
        round(sqrt(aggregate(
          zip_with(col("x.mv"), col("y.mv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).cast("double")) * 1e6)
          .cast("long").as("dmic"))
    // per-cluster mean distance as a TRUNCATING integer division into
    // micro-milli units: a double `sum/count` at 1e9 magnitude needs 16
    // significant digits for 6-d.p. rounding — past double precision,
    // where the two engines' round() implementations disagree at the
    // final ulp. Integer division is exact everywhere.
    val grp = pairs.groupBy("i", "li", "lj")
      .agg(sum("dmic").as("sd"), count(lit(1)).as("nd"))
      .withColumn("mean_q", expr("(sd * 1000) div nd"))
    val aSide = grp.where(col("li") === col("lj"))
      .select(col("i"), col("mean_q").as("a_q"))
    val bSide = grp.where(col("li") =!= col("lj"))
      .groupBy("i").agg(min("mean_q").as("b_q"))
    m.select(col("id").as("i"), col("lbl").as("label"))
      .join(bSide, Seq("i"))
      .join(aSide, Seq("i"), "left")
      .select(col("i").as("id"), col("label"), col("a_q"), col("b_q"),
        when(col("a_q").isNull
            || greatest(col("a_q"), col("b_q")) <= 0, lit(0.0))
          // singleton label / all-coincident-points conventions: s = 0
          .otherwise(round((col("b_q") - col("a_q")).cast("double")
            / greatest(col("a_q"), col("b_q")).cast("double"), 6)).as("s"))
  }

  /** Recall@k of an approximate top-k retrieval against the exact one —
    * the acceptance gate every ANN index deployment needs (an index
    * whose recall silently dropped is worse than a slow exact scan).
    * Both inputs are (queryCol, idCol) result sets; per query the hit
    * count is |approx ∩ exact| and recall is exact floored ppm over
    * `k`. Queries the approximate side missed entirely surface as
    * 0-recall rows, not absent ones. One semi-join + two bounded
    * aggregates; cost is the result sets' size, never the corpus.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int,
      queryCol: String = "q_id", idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "k must be positive")
    val qs = exact.select(col(queryCol)).distinct()
    val hits = exact.select(col(queryCol), col(idCol))
      .join(approx.select(col(queryCol), col(idCol)),
        Seq(queryCol, idCol), "left_semi")
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hit"))
    qs.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_ppm", expr(s"(1000000 * n_hit) div $k"))
  }

  /** Pinned nDCG discount weights `round(10⁶ / log₂(r+1))` for ranks
    * 1..10 — the Benford trick applied to ranking eval: the logs were
    * taken ONCE, here, and both engines compare identical integers, so
    * no libm log ever runs on data.
    */
  val ndcgWeightsPpm: Seq[(Int, Long)] =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
      .zipWithIndex.map { case (w, i) => (i + 1, w) }

  /** nDCG@k — the graded ranking-quality gate (recall@k counts hits,
    * nDCG weights WHERE they landed): DCG = Σ rel(d)·w(rank) over the
    * retrieved list, IDCG the same sum over the ideal ordering of the
    * query's relevant documents (rel desc, doc_id tiebreak), both as
    * exact ppm-weighted BIGINTs via [[ndcgWeightsPpm]]; the single
    * division happens once at the end. `run` carries (query_id,
    * doc_id, rk); `rels` carries graded (query_id, doc_id, rel) with
    * absent pairs meaning rel = 0. Queries with no relevant document
    * have undefined nDCG and are omitted (never a fake 0 or 1).
    *
    * Plan: one broadcast weight join + per-query aggregate for DCG;
    * one per-query top-k window over the RELEVANT docs only (never
    * corpus × queries) for IDCG.
    */
  def ndcgAtK(run: DataFrame, rels: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= ndcgWeightsPpm.size,
      s"pinned weights cover ranks 1..${ndcgWeightsPpm.size}")
    val spark = run.sparkSession
    import spark.implicits._
    val w = broadcast(ndcgWeightsPpm.take(k).toDF("rk", "w_ppm"))
    val dcg = run.where(col("rk") <= k)
      .join(rels, Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("rel"))
      .join(w, "rk")
      .groupBy("query_id").agg(sum(col("rel") * col("w_ppm")).as("dcg_ppm"))
    val ideal = rels.where(col("rel") > 0)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rel").desc, col("doc_id"))))
      .where(col("rk") <= k)
      .join(w, "rk")
      .groupBy("query_id").agg(sum(col("rel") * col("w_ppm")).as("idcg_ppm"))
    dcg.join(ideal, "query_id")
      .select(col("query_id"), col("dcg_ppm"), col("idcg_ppm"),
        round(col("dcg_ppm").cast("double") / col("idcg_ppm").cast("double"),
          6).as("ndcg"))
  }

  /** Reciprocal rank of the FIRST relevant hit in each query's top-k —
    * MRR's per-query rows, beside [[ndcgAtK]]'s graded view. Exact:
    * rr_ppm = 1e6 div first_rk (reciprocals of small integers need no
    * float). Queries whose top-k holds NO relevant document emit
    * rr_ppm = 0 with a null first_rk — the standard MRR convention
    * (unlike nDCG's no-relevant omission, a retrieval miss must drag
    * the mean down, so the row must exist).
    *
    * Plan: the relevant-hit join is result-set-sized (≤ k rows per
    * query on the run side), the min() a map-side-combined aggregate.
    */
  def mrrAtK(run: DataFrame, rels: DataFrame, k: Int = 10): DataFrame = {
    val firsts = run.where(col("rk") <= k)
      .join(rels.where(col("rel") > 0), Seq("query_id", "doc_id"))
      .groupBy("query_id").agg(min("rk").as("first_rk"))
    run.select("query_id").distinct()
      .join(firsts, Seq("query_id"), "left")
      .select(col("query_id"), col("first_rk"),
        coalesce(expr("1000000 div first_rk"), lit(0L)).as("rr_ppm"))
  }

  /** ROC AUC per group as the exact Mann–Whitney rank-sum statistic:
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), where R⁺ is the positives'
    * rank sum under an ascending score order with AVERAGE ranks on
    * ties (the tie convention that makes the statistic equal the
    * probability a random positive outranks a random negative, ties
    * counting ½). Everything is integer: ranks are DOUBLED (so tied
    * averages stay integral), the numerator is a BIGINT, and the
    * single division is floored ppm — no float comparisons for the
    * oracle to disagree on. Groups with no positives or no negatives
    * yield null (AUC undefined), not a fake 0.5.
    *
    * Plan: one (group, score)-level count aggregate, one cumulative
    * window over the DISTINCT-SCORE table (never the row table — the
    * ksDrift discipline), one grouped sum. Scores arrive as integers
    * (caller scales); label is boolean.
    */
  /** Group-conditional (Mondrian) split-conformal prediction intervals
    * — the distribution-free uncertainty wrapper a serving pipeline
    * puts around ANY point predictor: fit on `train`, measure absolute
    * residuals on `cal`(ibration), and the (1−α) conformal quantile
    * q̂_g = the k-th smallest calibration residual with
    * k = ⌈(n_g+1)(1−α)⌉ guarantees ≥ 1−α marginal coverage per group,
    * finite-sample, no model assumptions. The predictor here is the
    * simplest honest one — the train-side group mean (swap in any
    * per-group score; the conformal algebra is predictor-agnostic).
    * Groups whose calibration set is too small to certify (k > n_g)
    * emit a null q̂ — never a fake finite interval.
    *
    * ENTIRELY integer: values in cents, the group mean an exact
    * TRUNCATING integer division (`div` ≡ DuckDB's integer `//`, which
    * truncates toward zero — probed, the meanPoolEmbeddings
    * convention), residuals exact |cv − pred|, k by
    * integer ceiling, coverage in floored ppm. The k-th order statistic
    * comes from a cumulative count over the DISTINCT (group, residual)
    * frame (the ksDrift/groupAuc discipline) — value-cardinality
    * bounded, so no data-sized per-group sort exists even when the
    * calibration split is huge.
    *
    * Plan: one train aggregate (map-side combined), one broadcast of
    * the per-group (pred, q̂) table (group-cardinality rows), one
    * narrow test pass + final group count. Three scans, zero data-sized
    * shuffles beyond the group aggregates.
    */
  def conformalIntervals(train: DataFrame, cal: DataFrame, test: DataFrame,
      groupCol: String, valueCol: String, alphaPct: Int = 10): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 50)
    val keep = (100 - alphaPct).toLong
    def cents(df: DataFrame) = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * 100).cast("long").as("cv"))
    val pred = cents(train).groupBy("g")
      .agg(sum("cv").as("sc"), count(lit(1)).as("n_train"))
      .select(col("g"), col("n_train"),
        expr("sc div n_train").as("pred_cent"))
    val resid = cents(cal).join(broadcast(pred), "g")
      .select(col("g"), abs(col("cv") - col("pred_cent")).as("r"))
    val byVal = resid.groupBy("g", "r").agg(count(lit(1)).as("n"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("r")
    val sized = resid.groupBy("g").agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr(s"((n_cal + 1) * $keep + 99) div 100"))
    val qhat = byVal.withColumn("c", sum("n").over(wCum))
      .join(broadcast(sized), "g")
      .where(col("c") >= col("k"))
      .groupBy("g").agg(min("r").as("qhat_cent"))
    val params = pred.join(broadcast(sized), "g")
      .join(broadcast(qhat), Seq("g"), "left") // k > n_cal ⇒ null q̂
    cents(test).join(broadcast(params), "g")
      .groupBy(col("g"), col("n_train"), col("n_cal"), col("pred_cent"),
        col("qhat_cent"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qhat_cent").isNotNull &&
          col("cv").between(col("pred_cent") - col("qhat_cent"),
            col("pred_cent") + col("qhat_cent")), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("g").as(groupCol), col("n_train"), col("n_cal"),
        col("n_test"), col("pred_cent"), col("qhat_cent"),
        when(col("qhat_cent").isNotNull,
          expr("(1000000 * n_covered) div n_test")).as("coverage_ppm"))
  }

  def groupAuc(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s"))
    val byScore = df.select(col(groupCol).as("g"),
        col(scoreCol).cast("long").as("s"),
        col(labelCol).cast("boolean").as("y"))
      .groupBy(col("g"), col("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("np"))
    // doubled average rank of a tied block ending at cumulative count
    // c with n members: 2·avg = (c−n+1) + c
    val ranked = byScore
      .withColumn("c", sum(col("n")).over(w))
      .withColumn("r2", col("c") - col("n") + 1 + col("c"))
    ranked.groupBy(col("g"))
      .agg(sum(col("np") * col("r2")).as("rp2"),
        sum(col("np")).as("npos"),
        sum(col("n") - col("np")).as("nneg"))
      // the 1e6-scaled doubled-rank numerator wraps Long once a group
      // exceeds ~2.1e6 rows (1e6·2N² > Long.Max) — and Spark wraps
      // silently while the oracle raises; fail by name instead (the
      // tCloseness discipline; at larger N, widen to decimal)
      .withColumn("npos", when(col("npos") + col("nneg") > 2000000L,
        raise_error(lit("groupAuc: > 2e6 rows in a group overflows the " +
          "exact doubled-rank ppm algebra — widen to decimal")))
        .otherwise(col("npos")))
      .select(col("g").as(groupCol), col("npos"), col("nneg"),
        when(col("npos") > 0 && col("nneg") > 0,
          expr("(1000000 * (rp2 - npos * (npos + 1))) div (2 * npos * nneg)"))
          .as("auc_ppm"))
  }

  /** Average precision at k (the PR-curve area [[groupAuc]] is blind to
    * under class imbalance — AUC rewards ranking any negative below any
    * positive; AP only rewards positives ranked EARLY). Per group, rows
    * ranked (score desc, id asc) — the deterministic tiebreak AP needs
    * and AUC's doubled-rank algebra avoids — and
    * `AP@k = Σ_{r ≤ k, y_r} prec@r / min(npos_total, k)` with
    * `prec@r = (10⁶·cum_pos_r) div r`: every term exact floored ppm, so
    * both engines land the identical integer. Groups with no positives
    * anywhere emit null (uncertifiable, never a fake 0).
    *
    * Scale shape: the rank filter is `row_number ≤ k` directly over the
    * rank window ⇒ WindowGroupLimit prunes each mapper to its local
    * top-k BEFORE the exchange (the q208 discipline) — the shuffle
    * carries O(groups × k), not the corpus; the cumulative-positives
    * window then runs on ≤ k rows per group. `npos_total` is one
    * map-side-combined aggregate on the unranked frame.
    */
  def averagePrecisionAtK(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, idCol: String, k: Int = 1000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(col(groupCol).as("g"),
      col(scoreCol).cast("long").as("s"),
      col(labelCol).cast("boolean").as("y"), col(idCol).cast("long").as("id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s").desc, col("id"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("rk"))
    val scored = base.withColumn("rk", row_number().over(wRank))
      .where(col("rk") <= k)
      .withColumn("cp", sum(when(col("y"), 1L).otherwise(0L)).over(wCum))
    val totals = base.groupBy("g")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("npos_total"))
    scored.groupBy("g")
      .agg(sum(when(col("y"), expr("(1000000 * cp) div rk"))).as("_sp"),
        sum(when(col("y"), 1L).otherwise(0L)).as("npos_topk"),
        count(lit(1)).as("n_scored"))
      .join(totals, "g")
      .select(col("g").as(groupCol), col("n_scored"), col("npos_topk"),
        col("npos_total"),
        when(col("npos_total") > 0,
          expr(s"coalesce(_sp, 0) div least(npos_total, ${k}L)"))
          .as("ap_ppm"))
  }

  /** Dimension-truncation recall — the Matryoshka-style eval deciding
    * whether the leading `dims` of an embedding are enough for
    * retrieval: per query, the overlap between exact top-k under the
    * FULL vectors and exact top-k under the first-`dims` slice, as
    * exact floored ppm. Both rankings use [[Similarity
    * .bruteForceTopKBatch]]'s deterministic contract (4-d.p. cosine,
    * id tiebreak), so the comparison is engine-replayable; queries
    * whose truncated ranking shares nothing emit 0, never a dropped
    * row. Cost = two ranked scans of the corpus, query-batched.
    */
  def truncationRecall(vectors: DataFrame, queries: DataFrame, k: Int,
      dims: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && dims >= 1, "k and dims must be >= 1")
    val full = Similarity.bruteForceTopKBatch(vectors, queries, k,
      idCol, vecCol)
    val tq = queries.select(col("q_id"),
      slice(col("qvec"), 1, dims).as("qvec"))
    val tv = vectors.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val trunc = Similarity.bruteForceTopKBatch(tv, tq, k, idCol, vecCol)
    val hits = full.select(col("q_id"), col(idCol))
      .join(trunc.select(col("q_id"), col(idCol)), Seq("q_id", idCol),
        "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    full.groupBy("q_id").agg(count(lit(1)).as("n_full"))
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .select(col("q_id"), col("n_full"), col("n_overlap"),
        expr("(1000000 * n_overlap) div n_full").as("recall_ppm"))
  }

  /** Per-class precision/recall/F1 from the confusion cells — the
    * classifier-eval table every labeling/quality model ships with.
    * One grouped count over (true, pred) cells is the only data-sized
    * work; everything after runs on the class lattice. Exact ppm with
    * truncating division, F1 composed FROM the ppm precision/recall
    * (`(2·p·r) div (p+r)`) so both engines share every intermediate.
    * Undefined ratios (empty denominators) are null, never a fake 0 —
    * but the `MACRO` row coalesces nulls to 0 before its truncating
    * mean (the scikit `zero_division=0` convention, pinned).
    */
  def classificationReport(df: DataFrame, trueCol: String,
      predCol: String): DataFrame = {
    val cells = df
      .filter(col(trueCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(trueCol).as("t"), col(predCol).as("p"))
      .agg(count(lit(1)).as("n"))
    val trueTot = cells.groupBy(col("t").as("cls"))
      .agg(sum("n").as("support"))
    val predTot = cells.groupBy(col("p").as("cls"))
      .agg(sum("n").as("pred_n"))
    val diag = cells.where(col("t") === col("p"))
      .select(col("t").as("cls"), col("n").as("tp"))
    val per = trueTot.join(predTot, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("pred_n"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("support"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"),
        coalesce(col("support"), lit(0L)).as("support"))
      .withColumn("precision_ppm", when(col("tp") + col("fp") > 0,
        expr("(1000000 * tp) div (tp + fp)")))
      .withColumn("recall_ppm", when(col("tp") + col("fn") > 0,
        expr("(1000000 * tp) div (tp + fn)")))
      .withColumn("f1_ppm",
        when(col("precision_ppm").isNotNull && col("recall_ppm").isNotNull &&
          col("precision_ppm") + col("recall_ppm") > 0,
          expr("(2 * precision_ppm * recall_ppm) div " +
            "(precision_ppm + recall_ppm)")))
    val macroRow = per.agg(
      sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"),
      sum("support").as("support"),
      expr("sum(coalesce(precision_ppm, 0)) div count(1)")
        .as("precision_ppm"),
      expr("sum(coalesce(recall_ppm, 0)) div count(1)").as("recall_ppm"),
      expr("sum(coalesce(f1_ppm, 0)) div count(1)").as("f1_ppm"))
      .select(lit("MACRO").as("cls"), col("tp"), col("fp"), col("fn"),
        col("support"), col("precision_ppm"), col("recall_ppm"),
        col("f1_ppm"))
    per.select(col("cls").cast("string").as("cls"), col("tp"), col("fp"),
      col("fn"), col("support"), col("precision_ppm"), col("recall_ppm"),
      col("f1_ppm"))
      .unionByName(macroRow)
  }

  /** Full ROC curve table — the threshold-sweep view the scalar AUC
    * (groupAuc) deliberately collapses: one row per DISTINCT score
    * threshold with the exact confusion counts and ppm rates for the
    * rule `predict positive ⟺ score ≥ threshold`. This is what you
    * read to PICK an operating point; the AUC only ranks models.
    *
    * Plan shape is the weighted-percentiles discipline: one grouped
    * count collapses the data to the distinct-score frame (map-side
    * combinable), then ONE cumulative window ordered by score DESC
    * runs over that value-cardinality-sized frame — the raw data never
    * rides a window. Integer scores in, integer counts out, two
    * truncating ppm divisions per row.
    */
  def rocCurve(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val byScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("score"),
        col(labelCol).cast("long").as("y"))
      .groupBy("score")
      .agg(sum("y").as("pos"), sum(lit(1L) - col("y")).as("neg"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = byScore.agg(sum("pos").as("_p"), sum("neg").as("_n"))
    byScore
      .withColumn("tp", sum("pos").over(wDesc))
      .withColumn("fp", sum("neg").over(wDesc))
      .crossJoin(broadcast(totals))
      .select(col("score").as("threshold"),
        col("tp"), col("fp"),
        (col("_p") - col("tp")).as("fn"),
        (col("_n") - col("fp")).as("tn"),
        when(col("_p") > 0, expr("(1000000 * tp) div _p"))
          .as("tpr_ppm"),
        when(col("_n") > 0, expr("(1000000 * fp) div _n"))
          .as("fpr_ppm"))
  }

  /** McNemar's paired test — the model-comparison question accuracy
    * deltas answer WRONG: two models scored on the SAME items differ
    * only through the discordant pairs (A right / B wrong and vice
    * versa); the concordant mass is noise both share. Releases the
    * discordant counts and the χ² statistic `(b−c)²/(b+c)` in exact
    * truncating milli (null when no discordant pairs exist — the test
    * is undefined, not zero). One global aggregate over the paired
    * verdict table; nothing else.
    */
  def mcnemar(df: DataFrame, aCorrectCol: String,
      bCorrectCol: String): DataFrame = {
    df.where(col(aCorrectCol).isNotNull && col(bCorrectCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(col(aCorrectCol) && !col(bCorrectCol), 1L)
          .otherwise(0L)).as("b"),
        sum(when(!col(aCorrectCol) && col(bCorrectCol), 1L)
          .otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          expr("((b - c) * (b - c) * 1000) div (b + c)"))
          .as("chi2_milli"))
  }

  /** Cochran's Q — [[mcnemar]] generalized to k paired classifiers on
    * the same items ("are these k models interchangeable?"). With
    * per-classifier success totals C_j and per-item success totals
    * R_i: Q = (k−1)·[k·ΣC² − (ΣC)²] / [k·ΣR − ΣR²] — every term an
    * exact integer from two grouped counts, released as truncating
    * milli (null when the denominator is 0: all items unanimous, no
    * information). Items missing any classifier's verdict are dropped
    * (the paired-design contract), and that drop count is released.
    */
  def cochranQ(votes: DataFrame, itemCol: String, modelCol: String,
      correctCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = votes.where(col(itemCol).isNotNull && col(modelCol).isNotNull &&
        col(correctCol).isNotNull)
      .select(col(itemCol).as("item"), col(modelCol).as("mdl"),
        col(correctCol).cast("boolean").as("ok"))
      .groupBy("item", "mdl").agg(max(when(col("ok"), 1L).otherwise(0L))
        .as("ok")) // duplicate verdicts collapse; any-success wins
    val k = v.select("mdl").distinct().count() // bounded: model count
    val perItem = v.groupBy("item")
      .agg(count(lit(1)).as("n_mdl"), sum("ok").as("ri"))
    val complete = perItem.where(col("n_mdl") === k)
    val dropped = perItem.where(col("n_mdl") =!= k)
      .agg(count(lit(1)).as("n_items_dropped"))
    val rTerms = complete.agg(count(lit(1)).as("n_items"),
      sum("ri").as("sr"),
      sum(expr(s"cast(ri as $dec) * ri")).as("sr2"))
    val cTerms = v.join(complete.select("item"), "item")
      .groupBy("mdl").agg(sum("ok").as("cj"))
      .agg(sum(expr(s"cast(cj as $dec) * cj")).as("sc2"))
    rTerms.crossJoin(cTerms).crossJoin(dropped)
      .select(col("n_items"), lit(k).as("k"), col("n_items_dropped"),
        when(lit(k) * col("sr") - col("sr2") > 0,
          expr(s"((${k - 1} * ($k * sc2 - cast(sr as $dec) * sr)) * 1000)" +
            s" div ($k * cast(sr as $dec) - sr2)").cast("long"))
          .as("q_milli"))
  }

  /** Rank-biased overlap at depth D — the top-weighted ranking
    * similarity [[rocCurve]]-style set metrics miss (two rankings can
    * share every member yet order the HEAD oppositely; RBO weights
    * depth d by p^d so the head dominates). This is the TRUNCATED
    * LATTICE form with p = ½: each depth contributes
    * `(10⁶·overlap@d) div (min(d, n)·2^d)` where n is the shorter
    * head-list length — past the end of a list the agreement is held
    * at its depth-n value (Webber's RBO_ext extrapolation, so two
    * identical full-length-n rankings score 1.0, not a truncation
    * artifact < 1). Truncating per term in pinned order —
    * engine-exact; the residual tail at D = 20 is < 1 ppm.
    *
    * Scale: both rankings are top-D head lists (TakeOrdered — the
    * whole point of RBO is that only the head matters); the overlap
    * sweep is a D×D-bounded join.
    */
  def rankBiasedOverlap(df: DataFrame, idCol: String, scoreACol: String,
      scoreBCol: String, depth: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth out of range: $depth")
    val base = df.where(col(idCol).isNotNull && col(scoreACol).isNotNull &&
      col(scoreBCol).isNotNull)
    def head(scoreCol: String, rankName: String) = {
      base.select(col(idCol).as("id"), col(scoreCol))
        .orderBy(col(scoreCol).desc, col(idCol)).limit(depth)
        .withColumn(rankName, row_number().over(
          Window.orderBy(col(scoreCol).desc, col("id"))).cast("long"))
        .select(col("id"), col(rankName))
    }
    val a = head(scoreACol, "ra")
    val b = head(scoreBCol, "rb")
    val sparkSess = df.sparkSession
    import sparkSess.implicits._
    val depths = (1 to depth).map(_.toLong).toDF("d")
    val overlaps = a.join(b, "id")
      .crossJoin(broadcast(depths))
      .where(col("ra") <= col("d") && col("rb") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("o"))
    val nMin = a.agg(count(lit(1)).as("na"))
      .crossJoin(b.agg(count(lit(1)).as("nb")))
      .select(least(col("na"), col("nb")).as("n_min"))
    depths.join(overlaps, Seq("d"), "left")
      .crossJoin(broadcast(nMin))
      .select(col("d"), col("n_min"),
        coalesce(col("o"), lit(0L)).as("o"))
      .select(when(col("n_min") > 0,
        expr("(1000000 * o) div (least(d, n_min)" +
          " * shiftleft(1L, cast(d as int)))")).as("term"))
      .agg(sum("term").cast("long").as("rbo_micro"))
      .withColumn("depth", lit(depth.toLong))
  }

  /** Cumulative gains / lift table — the campaign-targeting readout
    * next to [[rocCurve]] (ROC sweeps thresholds; gains answers "if I
    * act on the top decile, what fraction of all positives do I
    * capture, and how much better than random is that?"). Deciles are
    * VALUE-ALIGNED bands from the distinct-score cumulative frame (the
    * curriculum discipline — a global ntile would single-reducer);
    * gain = cumulative positives over total positives, lift =
    * gain·N / cumulative-n, both truncating ppm.
    */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      nBands: Int = 10): DataFrame = {
    require(nBands >= 2 && nBands <= 100)
    val byScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("score"),
        col(labelCol).cast("long").as("y"))
      .groupBy("score").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byScore.agg(sum("n").as("_n"), sum("pos").as("_p"))
    byScore
      .withColumn("cum_n", sum("n").over(wDesc))
      .crossJoin(broadcast(tot))
      .withColumn("band",
        least(lit(nBands - 1L),
          expr(s"($nBands * (cum_n - n)) div _n")))
      .groupBy("band")
      .agg(sum("n").as("n"), sum("pos").as("positives"),
        max("cum_n").as("cum_n"), max("_n").as("_n"), max("_p").as("_p"))
      .withColumn("cum_positives",
        sum("positives").over(Window.orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("band"), col("n"), col("positives"), col("cum_n"),
        col("cum_positives"),
        when(col("_p") > 0, expr("(1000000 * cum_positives) div _p"))
          .as("gain_ppm"),
        when(col("cum_n") > 0 && col("_p") > 0,
          expr("(1000000 * cum_positives * _n) div (cum_n * _p)"))
          .as("lift_ppm"))
  }

  /** Uplift / Qini deciles — [[gainsTable]] for TREATMENT EFFECTS:
    * when the score claims to rank persuadability, the readout is not
    * "how many positives did the top decile capture" but "how many
    * INCREMENTAL positives did treating the top decile cause vs the
    * control arm". Bands are the same value-aligned distinct-score cut
    * as gainsTable (no ntile row-split nondeterminism; both arms share
    * one band edge set). Per band: arm sizes/positives and
    * `uplift_ppm = rate_t − rate_c` (each rate an already-truncated
    * ppm, subtracted after — both engines floor non-negatives
    * identically); cumulative `qini_milli = 10³·cumpos_t −
    * (10³·cumpos_c·cum_n_t) div cum_n_c` (the Radcliffe Qini curve
    * point, control counts scaled to the treated volume — the second
    * term is non-negative so its one truncating division is safe).
    *
    * Scale: one grouped score aggregate, bands-sized everything after
    * — the gainsTable cost shape.
    */
  def upliftDeciles(df: DataFrame, scoreCol: String, treatCol: String,
      outcomeCol: String, nBands: Int = 10): DataFrame = {
    require(nBands >= 2 && nBands <= 100)
    val byScore = df
      .filter(col(scoreCol).isNotNull && col(treatCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(scoreCol).cast("long").as("score"),
        col(treatCol).cast("boolean").as("t"),
        col(outcomeCol).cast("long").as("y"))
      .groupBy("score").agg(count(lit(1)).as("n"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t"), col("y")).otherwise(0L)).as("pos_t"),
        sum(when(!col("t"), col("y")).otherwise(0L)).as("pos_c"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byScore.agg(sum("n").as("_n"))
    val wBand = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum_n", sum("n").over(wDesc))
      .crossJoin(broadcast(tot))
      .withColumn("band",
        least(lit(nBands - 1L), expr(s"($nBands * (cum_n - n)) div _n")))
      .groupBy("band")
      .agg(sum("n_t").as("n_t"), sum(col("n") - col("n_t")).as("n_c"),
        sum("pos_t").as("pos_t"), sum("pos_c").as("pos_c"))
      .withColumn("cum_n_t", sum("n_t").over(wBand))
      .withColumn("cum_n_c", sum("n_c").over(wBand))
      .withColumn("cum_pos_t", sum("pos_t").over(wBand))
      .withColumn("cum_pos_c", sum("pos_c").over(wBand))
      .select(col("band"), col("n_t"), col("n_c"), col("pos_t"),
        col("pos_c"),
        when(col("n_t") > 0 && col("n_c") > 0,
          expr("(1000000 * pos_t) div n_t - (1000000 * pos_c) div n_c"))
          .as("uplift_ppm"),
        when(col("cum_n_c") > 0,
          expr("1000 * cum_pos_t" +
            " - (1000 * cum_pos_c * cum_n_t) div cum_n_c"))
          .as("qini_milli"))
  }

  /** Cost-optimal decision threshold — what [[rocCurve]] leaves to the
    * reader: given asymmetric error costs (a leaked PII span costs
    * 100× a wrongly-redacted one), sweep every DISTINCT score as the
    * fire-at-or-above threshold and release the cost-minimizing one.
    * `cost_ppm = fp·costFpPpm + fn·costFnPpm` is exact integer at
    * every candidate (fp/fn from the descending cumulative frame);
    * the argmin is a TakeOrdered(1) with the tie pinned to the LOWEST
    * threshold (fire more when indifferent — ties only occur on equal
    * total cost). Candidates are the observed scores only: the
    * never-fire policy has no threshold and is the caller's separate
    * baseline (`fn = P` is readable off n_pos).
    *
    * Scale: one grouped score aggregate + distinct-score-frame window
    * (the gainsTable shape); TakeOrdered(1) ends it — no global sort
    * of data-sized rows.
    */
  def optimalThreshold(df: DataFrame, scoreCol: String, labelCol: String,
      costFpPpm: Long, costFnPpm: Long): DataFrame = {
    require(costFpPpm >= 0 && costFnPpm >= 0 &&
      (costFpPpm > 0 || costFnPpm > 0))
    val byScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("score"),
        col(labelCol).cast("boolean").cast("long").as("y"))
      .groupBy("score").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byScore.agg(sum("n").as("_n"), sum("pos").as("_p"))
    byScore
      .withColumn("cum_n", sum("n").over(wDesc))
      .withColumn("cum_pos", sum("pos").over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("score").as("threshold"),
        (col("cum_n") - col("cum_pos")).as("fp"),
        (col("_p") - col("cum_pos")).as("fn"),
        col("_n").as("n"), col("_p").as("n_pos"))
      .withColumn("cost_ppm",
        col("fp") * costFpPpm + col("fn") * costFnPpm)
      .orderBy(col("cost_ppm").asc, col("threshold").asc)
      .limit(1)
  }
}
