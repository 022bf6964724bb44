package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Annotation aggregation — the label-consolidation step of an RLHF /
  * supervised-data pipeline: many annotators, conflicting votes, one
  * training label per item with a confidence.
  */
object Annotation {

  /** Accuracy-weighted majority vote (a one-round Dawid–Skene): plain
    * per-item majority first, then each annotator's global agreement
    * with those majorities becomes their vote weight, then a weighted
    * re-vote. Annotators who usually agree with consensus count more;
    * a spammer's votes are discounted without being dropped.
    *
    * Every intermediate stays in exact integer space: weights are
    * parts-per-million via `(10⁶ · matches) div total` (integer
    * division — no float whose cross-engine rounding could flip a
    * rank), weighted sums are sums of longs, and all argmaxes break
    * ties toward the lexicographically smallest label. `confidence`
    * (winning share of the item's total vote weight) is the single
    * final double division.
    *
    * Plan: three aggregations (item-label counts, annotator accuracy,
    * weighted re-vote) + two small joins; the accuracy frame is one row
    * per annotator — broadcast-sized by construction. No window over
    * the full vote stream; ranks run per item-label group.
    */
  def aggregateLabels(votes: DataFrame, itemCol: String,
      annotatorCol: String, labelCol: String): DataFrame = {
    val v = votes.select(col(itemCol).as("item"),
      col(annotatorCol).as("annotator"), col(labelCol).as("label"))
    val counts = v.groupBy("item", "label").agg(count(lit(1)).as("cnt"))
    val wMaj = Window.partitionBy("item")
      .orderBy(col("cnt").desc, col("label"))
    val majority = counts.withColumn("rn", row_number().over(wMaj))
      .where(col("rn") === 1).select(col("item"), col("label").as("maj_label"))
    val acc = v.join(majority, "item")
      .groupBy("annotator")
      .agg((lit(1000000L) * sum(when(col("label") === col("maj_label"), 1L)
          .otherwise(0L))).as("m"), count(lit(1)).as("t"))
      .select(col("annotator"), expr("m div t").as("w_ppm"))
    val weighted = v.join(acc, "annotator")
      .groupBy("item", "label")
      .agg(count(lit(1)).as("n"), sum("w_ppm").as("wsum"))
    val wFinal = Window.partitionBy("item")
      .orderBy(col("wsum").desc, col("label"))
    val totals = weighted.groupBy("item")
      .agg(sum("wsum").as("w_total"), sum("n").as("n_votes"))
    weighted.withColumn("rn", row_number().over(wFinal))
      .where(col("rn") === 1)
      .join(totals, "item").join(majority, "item")
      .select(col("item"), col("maj_label"), col("label").as("final_label"),
        col("n_votes"), col("wsum"),
        round(col("wsum").cast("double") / col("w_total").cast("double"), 6)
          .as("confidence"))
  }

  /** Pairwise Cohen's κ between every annotator pair — the
    * inter-annotator agreement matrix a labeling pipeline reports before
    * trusting its gold set (raw agreement flatters annotators who
    * over-use the majority label; κ subtracts chance agreement).
    *
    * Exact-integer identity: over the n items BOTH annotators labeled,
    * with a = agreements and per-label marginals nAₗ/nBₗ,
    * `κ = (n·a − Σₗ nAₗ·nBₗ) / (n² − Σₗ nAₗ·nBₗ)` — numerator and
    * denominator are exact BIGINTs, the division is the single final
    * double (6 d.p.), and a zero denominator (both annotators constant
    * on the same label) yields null rather than a fake 1.0.
    *
    * Expects one vote per (annotator, item). Plan: one self-join on the
    * item key (per-item cost ∝ annotators-per-item², the co-labeling
    * structure itself), one pair-level count aggregate, one marginal
    * aggregate joined on (pair, label) — everything downstream of the
    * self-join is O(annotator-pairs · labels).
    */
  /** Bradley–Terry strength fitting over pairwise preference duels —
    * the aggregation step that turns "A beat B" rows (human preference
    * votes, model-arena matchups) into per-item strengths. Fixed
    * `iterations` of the Hunter (2004) MM update
    * `s_i ← W_i / Σ_j n_ij/(s_i+s_j)`, entirely in integer micro
    * space: strengths start at 10⁶, each pair term is ONE truncating
    * division `n_ij·10¹² div (s_i+s_j)` (micro units), the update is
    * `W_i·10¹² div Σterms` — no float ever, so any engine replaying
    * the same order of truncations lands on identical integers.
    * `n·10¹²` products overflow Long past ~9·10⁶ duels per pair, so
    * sums ride decimal(38) (DuckDB HUGEINT mirrors it).
    *
    * Known BT degeneracy kept loud: a zero-win item's strength is
    * exactly 0 from round 1 (its true MLE is 0/unbounded-ratio), and
    * `greatest(·,1)` guards the two divisions so an all-zero pair
    * yields 0, never a null/error divergence between engines.
    *
    * Scale shape: the ONLY data-sized work is the duel aggregation;
    * `games` is items²-bounded, strengths are items-sized, and each
    * MM round is two joins + one aggregate on those bounded frames.
    */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
      loserCol: String, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val dec = "decimal(38,0)"
    val duels = comparisons
      .select(col(winnerCol).as("w"), col(loserCol).as("l"))
      .where(col("w").isNotNull && col("l").isNotNull && col("w") =!= col("l"))
    // Round-16 diet: ONE data-sized aggregation. The DIRECTED duel count
    // is items²-bounded and both `games` (symmetrized) and `wins` (the
    // win margin) are rollups of it — before, `games`' two unionAll legs
    // and `wins` each re-ran the data-sized duel scan (3 passes), and the
    // unrolled MM loop's double self-reference on `s` multiplied those
    // references into 2^iterations recomputes of the whole chain.
    // Summing directed counts symmetrized is bit-identical to counting
    // the symmetrized union (integer sums of the same rows).
    val dirGames = duels.groupBy(col("w").as("item"), col("l").as("opp"))
      .agg(count(lit(1)).as("nw"))
      .localCheckpoint(false) // the last data-sized aggregate
    val games = dirGames.select(col("item"), col("opp"), col("nw"))
      .unionAll(dirGames.select(col("opp").as("item"),
        col("item").as("opp"), col("nw")))
      .groupBy("item", "opp").agg(sum("nw").as("n"))
      .localCheckpoint(false) // read by every MM round + base
    val wins = dirGames.groupBy(col("item")).agg(sum("nw").as("wins"))
    val base = games.groupBy("item").agg(sum("n").as("n_games"))
      .join(wins, Seq("item"), "left")
      .select(col("item"), col("n_games"),
        coalesce(col("wins"), lit(0L)).as("wins"))
      .localCheckpoint(false) // read by every MM round + the final join
    var s = base.select(col("item"), lit(1000000L).cast(dec).as("s"))
    for (_ <- 1 to iterations) {
      val denom = games
        .join(s.select(col("item"), col("s").as("s_i")), "item")
        .join(s.select(col("item").as("opp"), col("s").as("s_j")), "opp")
        .select(col("item"), expr(s"(cast(n as $dec) * 1000000000000)" +
          s" div greatest(s_i + s_j, 1)").as("term"))
        .groupBy("item").agg(sum(col("term")).as("denom"))
      // items-sized: keeps the double self-reference of s_{r} inside
      // round r+1 from doubling the plan subtree per round
      s = base.join(denom, "item")
        .select(col("item"), expr(s"(cast(wins as $dec) * 1000000000000)" +
          s" div greatest(denom, 1)").as("s"))
        .localCheckpoint(false)
    }
    val tot = s.agg(sum(col("s")).as("s_tot"))
    base.join(s, "item").crossJoin(tot)
      .select(col("item"), col("wins"), col("n_games"),
        col("s").cast("long").as("strength_micro"),
        expr(s"(s * 1000000) div greatest(s_tot, 1)").cast("long")
          .as("share_ppm"))
  }

  def cohensKappa(votes: DataFrame, itemCol: String, annotatorCol: String,
      labelCol: String): DataFrame = {
    val v = votes.select(col(itemCol).as("item"),
      col(annotatorCol).as("ann"), col(labelCol).as("label"))
    val co = v.as("x").join(v.as("y"),
        col("x.item") === col("y.item") && col("x.ann") < col("y.ann"))
      .select(col("x.ann").as("ann_a"), col("y.ann").as("ann_b"),
        col("x.label").as("la"), col("y.label").as("lb"))
    val base = co.groupBy("ann_a", "ann_b")
      .agg(count(lit(1)).as("n"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_agree"))
    val margA = co.groupBy("ann_a", "ann_b", "la")
      .agg(count(lit(1)).as("ca"))
    val margB = co.groupBy("ann_a", "ann_b", "lb")
      .agg(count(lit(1)).as("cb"))
    val pe = margA.as("ma").join(margB.as("mb"),
        col("ma.ann_a") === col("mb.ann_a") && col("ma.ann_b") === col("mb.ann_b")
          && col("la") === col("lb"))
      .groupBy(col("ma.ann_a").as("ann_a"), col("ma.ann_b").as("ann_b"))
      .agg(sum(col("ca") * col("cb")).as("pe_num"))
    base.join(pe, Seq("ann_a", "ann_b"), "left")
      .select(col("ann_a"), col("ann_b"), col("n"), col("n_agree"),
        coalesce(col("pe_num"), lit(0L)).as("pe_num"))
      .withColumn("kappa",
        when(col("n") * col("n") === col("pe_num"), lit(null))
          .otherwise(round(
            (col("n") * col("n_agree") - col("pe_num")).cast("double")
              / (col("n") * col("n") - col("pe_num")).cast("double"), 6)))
  }

  /** Quadratically-weighted Cohen's kappa — [[cohensKappa]] for ORDINAL
    * labels (1–5 quality grades, severity tiers), where disagreeing by
    * one notch should cost less than disagreeing by four: weights are
    * `(la − lb)²`, observed cost is the exact integer
    * `o = Σ (la − lb)²` over co-rated items, expected cost the exact
    * marginal cross `e·n = Σ_{i,j} ca_i·cb_j·(i − j)²`, and
    * `κ_w = 1 − n·o / Σ ca·cb·(i−j)²` is ONE double division of exact
    * decimals, rounded 6 d.p. (the [[cohensKappa]] shape with the
    * weight lattice in both numerator and denominator). Zero expected
    * cost (either rater constant) ⇒ null.
    *
    * Scale: the same item self-join as cohensKappa (co-rating pairs),
    * then label-marginal crosses bounded by label cardinality².
    */
  def weightedKappa(votes: DataFrame, itemCol: String,
      annotatorCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = votes.where(col(itemCol).isNotNull &&
        col(annotatorCol).isNotNull && col(labelCol).isNotNull)
      .select(col(itemCol).as("item"), col(annotatorCol).as("ann"),
        col(labelCol).cast("long").as("label"))
    val co = v.as("x").join(v.as("y"),
        col("x.item") === col("y.item") && col("x.ann") < col("y.ann"))
      .select(col("x.ann").as("ann_a"), col("y.ann").as("ann_b"),
        col("x.label").as("la"), col("y.label").as("lb"))
    val base = co.groupBy("ann_a", "ann_b")
      .agg(count(lit(1)).as("n"),
        sum(expr(s"cast((la - lb) as $dec) * (la - lb)")).as("o"))
    val margA = co.groupBy("ann_a", "ann_b", "la")
      .agg(count(lit(1)).as("ca"))
    val margB = co.groupBy("ann_a", "ann_b", "lb")
      .agg(count(lit(1)).as("cb"))
    val eNum = margA.join(margB, Seq("ann_a", "ann_b"))
      .select(col("ann_a"), col("ann_b"),
        expr(s"cast(ca as $dec) * cb * (la - lb) * (la - lb)").as("term"))
      .groupBy("ann_a", "ann_b").agg(sum("term").as("e_num"))
    base.join(eNum, Seq("ann_a", "ann_b"))
      .select(col("ann_a"), col("ann_b"), col("n"),
        col("o").cast("long").as("weighted_disagreement"),
        when(col("e_num") === 0, lit(null)).otherwise(round(
          lit(1.0) - expr(s"cast(cast(n as $dec) * o as double)") /
            col("e_num").cast("double"), 6)).as("kappa_w"))
  }

  /** Borda-count ranking aggregation — the positional complement to
    * [[bradleyTerry]] (BT fits strengths from pairwise duels; Borda
    * consolidates FULL per-annotator rankings, the artifact a
    * best-of-n preference queue actually produces). Each ballot
    * awards an item `n_items_on_ballot − rank` points (so incomplete
    * ballots are handled: a 3-item ballot awards 2/1/0); items are
    * ordered by total points with a PINNED tie order (item ascending).
    * Exact integers end to end; two grouped aggregates, the final
    * rank is a window over the items-sized frame only.
    */
  def bordaCount(rankings: DataFrame, annotatorCol: String,
      itemCol: String, rankCol: String): DataFrame = {
    val v = rankings
      .filter(col(annotatorCol).isNotNull && col(itemCol).isNotNull &&
        col(rankCol).isNotNull)
      .select(col(annotatorCol).as("ann"), col(itemCol).as("item"),
        col(rankCol).cast("long").as("rnk"))
    val ballotSize = v.groupBy("ann").agg(count(lit(1)).as("bn"))
    val scored = v.join(ballotSize, "ann")
      .select(col("item"), (col("bn") - col("rnk")).as("pts"))
    val perItem = scored.groupBy("item")
      .agg(count(lit(1)).as("n_ballots"), sum("pts").as("points"))
    perItem
      .withColumn("final_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("points").desc, col("item").asc)).cast("long"))
  }

  /** Krippendorff's alpha (nominal) — the multi-rater,
    * missing-data-tolerant reliability coefficient [[cohensKappa]]
    * cannot give (kappa needs the same two raters everywhere; real
    * labeling queues assign 2-of-N raters per item). Units with fewer
    * than 2 ratings are unpairable and drop, per the definition.
    *
    * α = 1 − D_o/D_e with
    *   D_o = (1/n)·Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1)
    *   D_e = (1/(n(n−1)))·Σ_c n_c·(n − n_c)
    * over n = Σ m_u pairable values. The per-unit /(m_u−1) is the one
    * intrinsic division; it is evaluated as a TRUNCATING micro-scaled
    * integer per unit (`(10⁶·Σ_c n_uc(m_u−n_uc)) div (m_u−1)`) in a
    * pinned order both engines share, then α in ppm by one more
    * truncating division — no float ever crosses an engine boundary.
    * Scale: two grouped counts (unit×label, then unit) + one global
    * fold; state ∝ units·labels, all map-side combinable.
    */
  def krippendorffAlpha(votes: DataFrame, unitCol: String,
      raterCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = votes
      .filter(col(unitCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(unitCol).as("unit"), col(raterCol).as("rater"),
        col(labelCol).as("label"))
      .distinct()  // drops EXACT duplicate votes only; a rater giving
      // two DIFFERENT labels to one unit contributes both values (they
      // are distinct pairable values under Krippendorff's formulation,
      // inflating m_u and the disagreement terms accordingly). Callers
      // wanting strict one-rating-per-(unit,rater) semantics must
      // pre-resolve (e.g. keep-last via a window) before calling.
    val uc = v.groupBy("unit", "label").agg(count(lit(1)).as("nuc"))
    val um = uc.groupBy("unit").agg(sum("nuc").as("mu"))
    val pairable = uc.join(um, "unit").filter(col("mu") >= 2)
    val perUnit = pairable.groupBy("unit")
      .agg(max("mu").as("mu"),
        sum(expr(s"cast(nuc as $dec) * (mu - nuc)")).as("disagree"))
      .select(col("mu"),
        expr(s"(cast(1000000 as $dec) * disagree) div (mu - 1)")
          .as("do_micro"))
    val totals = perUnit.agg(
      count(lit(1)).as("n_units"),
      sum(col("mu").cast(dec)).as("n"),
      sum(col("do_micro").cast(dec)).as("do_micro"))
    val catTotals = pairable.groupBy("label")
      .agg(sum("nuc").as("ncat"))
    val de = catTotals
      .crossJoin(totals.select(col("n").as("_n")))
      .agg(count(lit(1)).as("n_categories"),
        sum(expr(s"cast(ncat as $dec) * (_n - ncat)")).as("de_num"))
    totals.crossJoin(de)
      .select(col("n_units"), col("n").cast("long").as("n_values"),
        col("n_categories"), col("de_num").cast("long").as("de_num"),
        when(col("de_num") === 0 || col("n") < 2, lit(null).cast("long"))
          .otherwise(
            (lit(1000000).cast(dec) -
              expr(s"(do_micro * (n - 1)) div de_num")).cast("long"))
          .as("alpha_ppm"))
  }

  /** Fleiss' kappa — the FIXED-PANEL reliability coefficient the other
    * two members of the family deliberately are not: [[cohensKappa]]
    * needs the same TWO raters everywhere, [[krippendorffAlpha]]
    * tolerates missing ratings; Fleiss assumes every unit is rated by
    * exactly the same NUMBER of raters (a fixed panel of n per item —
    * the common labeling-queue contract "each item gets n judgments,
    * raters interchangeable"). Units whose rating count differs from
    * the modal n are DROPPED and counted in `n_units_dropped` (silently
    * mixing panel sizes is exactly the formula's undefined case).
    *
    * With N retained units, n ratings each, category totals
    * C_j = Σ_i n_ij and S = Σ_i Σ_j n_ij²:
    *   P̄  = (S − N·n) / (N·n·(n−1))        (observed agreement)
    *   P̄e = Σ_j C_j² / (N·n)²              (chance agreement)
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    * Putting both over the common denominator (N·n)²·(n−1) makes every
    * term an INTEGER, so κ is released as one truncating ppm division
    * of two exact decimal(38,0) numbers — no float ever crosses the
    * engine boundary:
    *   κ_ppm = 10⁶·[(S−Nn)·Nn − ΣC²·(n−1)] div [(Nn)²(n−1) − ΣC²(n−1)]
    * (null when the denominator is 0 — P̄e = 1, a degenerate panel).
    *
    * Scale: one (unit, label) grouped count, one unit-sized rollup, one
    * label-sized rollup, then scalar folds — all map-side combinable;
    * nothing after the first aggregate is data-sized.
    */
  def fleissKappa(votes: DataFrame, unitCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = votes
      .filter(col(unitCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(unitCol).as("unit"), col(raterCol).as("rater"),
        col(labelCol).as("label"))
      .distinct() // exact duplicate votes collapse; the (unit, rater)
      // one-vote contract is the caller's, as in [[krippendorffAlpha]]
    val uc = v.groupBy("unit", "label").agg(count(lit(1)).as("nuc"))
    val um = uc.groupBy("unit").agg(sum("nuc").as("mu"))
    // modal panel size: ties pinned to the SMALLER n (deterministic)
    val nPanel = um.groupBy("mu").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("mu").asc).limit(1)
      .select(col("mu").as("n_raters"))
    val keptUnits = um.join(broadcast(nPanel), um("mu") === nPanel("n_raters"))
      .select(col("unit"))
    val kept = uc.join(keptUnits, "unit")
    val sTot = kept.agg(
      countDistinct(col("unit")).as("n_units"),
      sum(expr(s"cast(nuc as $dec) * nuc")).as("s"))
    val cTot = kept.groupBy("label").agg(sum("nuc").as("cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(expr(s"cast(cj as $dec) * cj")).as("c2"))
    val dropped = um.join(broadcast(nPanel),
        um("mu") =!= nPanel("n_raters"))
      .agg(count(lit(1)).as("n_units_dropped"))
    sTot.crossJoin(cTot).crossJoin(dropped).crossJoin(nPanel)
      .select(col("n_units"), col("n_raters"), col("n_categories"),
        col("n_units_dropped"),
        expr(s"""cast(n_units as $dec) * n_raters""").as("nn"),
        col("s"), col("c2"))
      .select(col("n_units"), col("n_raters"), col("n_categories"),
        col("n_units_dropped"),
        ((col("s") - col("nn")) * col("nn") -
          col("c2") * (col("n_raters") - 1)).as("knum"),
        (col("nn") * col("nn") * (col("n_raters") - 1) -
          col("c2") * (col("n_raters") - 1)).as("kden"))
      .select(col("n_units"), col("n_raters"), col("n_categories"),
        col("n_units_dropped"),
        when(col("kden") === 0 || col("n_raters") < 2,
          lit(null).cast("long"))
          .otherwise(expr(s"(cast(1000000 as $dec) * knum) div kden")
            .cast("long")).as("kappa_ppm"))
  }
}
