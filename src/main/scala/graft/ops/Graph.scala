package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative link-graph analytics: PageRank-style quality propagation over
  * a document/domain link graph — the web-corpus curation signal that
  * ranks sources by how much the rest of the corpus points at them.
  *
  * Spark-first shape (same discipline as [[Dedup.duplicateClusters]]'
  * label propagation): the per-iteration step is a declarative
  * join + groupBy plan; the driver only sequences iterations and carries
  * two bounded scalars (node count, dangling mass). Each iteration is
  * localCheckpoint-ed so the plan stays linear in iteration count instead
  * of exponential, and at cluster scale the checkpoint maps to a durable
  * inter-iteration parquet (the same equivalence CorpusBuild documents).
  *
  * Cost per iteration: one shuffle (contributions grouped by target) plus
  * one co-partitioned join of ranks⋈degree on the node key — O(E) work,
  * O(V) state, the textbook distributed PageRank shape. Hot targets (a
  * page everyone links to) skew the groupBy like any high-in-degree
  * aggregation; partial aggregation (map-side combine) absorbs it because
  * the combine is a plain sum.
  */
object Graph {

  /** Deterministic pseudo-edge derivation for the oracle harness: node
    * `u` links to `md5(u|j) mod n` for `j < fanout` (self-loops dropped,
    * duplicates collapsed). Real pipelines replace this with extracted
    * hyperlinks; everything downstream is shape-identical.
    */
  def pseudoEdges(nodes: DataFrame, idCol: String, n: Long,
      fanout: Int = 3): DataFrame = {
    val j = explode(sequence(lit(0), lit(fanout - 1)))
    nodes.select(col(idCol).cast("long").as("src"), j.as("j"))
      .select(col("src"),
        (graft.functions.HashExpressions.md5Prefix64(concat(col("src").cast("string"), lit("|"),
          col("j").cast("string")), 8) % n).as("tgt"))
      .filter(col("tgt") =!= col("src"))
      .distinct()
  }

  /** Fixed-iteration damped PageRank. `nodes` is one row per vertex
    * (column `idCol`); `edges` has `src`/`tgt` long columns. Returns
    * (node, rank) with rank rounded to 9 d.p. — the cross-engine float
    * contract: per-iteration absolute error is ~1e-15, far inside the
    * rounding.
    *
    * Dangling mass (nodes with no out-edges) is redistributed uniformly —
    * the standard correction, and the piece naive formulations leak. It
    * costs one bounded scalar aggregate per iteration (a single double to
    * the driver), not a data-sized collect.
    */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
      alpha: Double = 0.85, iters: Int = 5): DataFrame = {
    val spark = nodes.sparkSession
    // Optimization round 15: every static side of the iteration is
    // materialized ONCE. Before, `deg` (a full edge derivation + grouped
    // count) was re-evaluated inside every iteration's dangling anti-join
    // and `v` rescanned per join — O(E) recompute per iteration that no
    // lineage cut was catching; and the dangling mass was collected to
    // the driver as a separate action per iteration (`first()`), making
    // each iteration two driver round-trips. The dangling aggregate now
    // rides IN-PLAN as a 1-row broadcast (crossJoin), so one action per
    // iteration materializes the new ranks. Arithmetic is unchanged: the
    // same anti-join + sum feeds the same `(1−α)/n + α·(contrib + d/n)`
    // expression (the division by n now happens in-plan — same IEEE op
    // on the same doubles), far inside the 9 d.p. rounding contract.
    val v = nodes.select(col(idCol).cast("long").as("node")).localCheckpoint()
    val n = v.count() // bounded scalar: |V| is a design-time quantity
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // weights (src, tgt, outdeg) reused every iteration — checkpoint once
    val w = edges.join(deg, "src").localCheckpoint()
    // dangling detection needs only the out-degree KEY SET — derive it
    // from the checkpointed w, never from the raw edges again
    val degSrc = w.select(col("src")).distinct().localCheckpoint()
    var ranks = v.withColumn("r", lit(1.0 / n)).localCheckpoint()
    for (_ <- 1 to iters) {
      val dang = ranks.join(degSrc, ranks("node") === degSrc("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0.0)).as("_dang"))
      val contribs = w.join(ranks, w("src") === ranks("node"))
        .groupBy("tgt").agg(sum(col("r") / col("outdeg")).as("contrib"))
      ranks = v.join(contribs, v("node") === contribs("tgt"), "left")
        .crossJoin(broadcast(dang)) // 1 row: the dangling-mass scalar
        .select(col("node"),
          (lit((1 - alpha) / n) +
            lit(alpha) * (coalesce(col("contrib"), lit(0.0)) +
              col("_dang") / lit(n.toDouble))).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), round(col("r"), 9).as("rank"))
  }

  /** PERSONALIZED PageRank — [[pageRank]] with a seed-restart vector
    * instead of the uniform teleport: the retrieval-adjacent graph op
    * (seed-biased ranking for related-item expansion — "what is close,
    * link-wise, to THESE nodes"). Teleport mass `s(v) = 1/|S|` on the
    * seed set, 0 elsewhere; dangling mass also restarts AT THE SEEDS
    * (the standard PPR correction — routing it uniformly would leak
    * rank out of the personalization). Iteration:
    * `r' = (1−α)·s + α·(Σ contribs + dangling·s)`, init `r₀ = s`, so
    * total mass stays exactly 1 and concentrates near the seeds.
    *
    * Same cost shape as [[pageRank]]: one contribution shuffle + one
    * co-partitioned join per iteration, two bounded driver scalars
    * (|S| and the dangling sum); the seed vector rides a broadcast
    * join, never a shuffle of its own.
    */
  def personalizedPageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
      seeds: DataFrame, seedCol: String, alpha: Double = 0.85,
      iters: Int = 5): DataFrame = {
    // same round-15 iteration diet as [[pageRank]]: static sides
    // checkpointed once (v, w, degSrc — `deg` was re-derived from raw
    // edges inside every iteration's dangling anti-join), dangling mass
    // fused in-plan as a 1-row broadcast instead of a per-iteration
    // driver collect; identical arithmetic under the 9 d.p. contract
    val v = nodes.select(col(idCol).cast("long").as("node")).localCheckpoint()
    val sv = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    val ns = sv.count() // bounded scalar: the personalization is a query
    require(ns > 0, "personalizedPageRank needs a non-empty seed set")
    val seedW = sv.withColumn("s", lit(1.0 / ns)).localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val w = edges.join(deg, "src").localCheckpoint()
    val degSrc = w.select(col("src")).distinct().localCheckpoint()
    var ranks = v.join(broadcast(seedW), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0.0)).as("r"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val dang = ranks.join(degSrc, ranks("node") === degSrc("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0.0)).as("_dang"))
      val contribs = w.join(ranks, w("src") === ranks("node"))
        .groupBy("tgt").agg(sum(col("r") / col("outdeg")).as("contrib"))
      ranks = v.join(contribs, v("node") === contribs("tgt"), "left")
        .join(broadcast(seedW), Seq("node"), "left")
        .crossJoin(broadcast(dang)) // 1 row: the dangling-mass scalar
        .select(col("node"),
          (lit(1 - alpha) * coalesce(col("s"), lit(0.0)) +
            lit(alpha) * (coalesce(col("contrib"), lit(0.0)) +
              col("_dang") * coalesce(col("s"), lit(0.0)))).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), round(col("r"), 9).as("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg) over a directed edge set —
    * PageRank's bipartite sibling: a good HUB points at good
    * authorities, a good AUTHORITY is pointed at by good hubs; the
    * curation use is separating index/portal pages from content pages,
    * which a single PageRank score conflates. `iters` rounds of the
    * power iteration `a ← Eᵀh, h ← E a` run UNNORMALIZED from h₀ = 1,
    * so every intermediate score is an EXACT Long (integer sums of
    * integers — no float summation order for the oracle to disagree
    * on); scale invariance means the single max-division at the very
    * end yields the same ranking a per-round normalization would, and
    * max is order-independent exactly. Returns (node, auth, hub) in
    * [0, 1] at 9 d.p.; sourceless/sinkless nodes score 0.
    *
    * Overflow is guarded by NAME up front: scores grow at most like
    * d_max per half-step, so (2·iters)·log₂(d_max) must stay under 62
    * bits — d_max is one bounded aggregate, and the require names the
    * fix (fewer iterations, or pre-cap hub fan-out — at web scale the
    * standard move, since a 10⁶-degree portal drowns HITS anyway).
    *
    * Cost per iteration: two edge joins + two grouped integer sums
    * (O(E), map-side combinable); edges checkpoint once; NO per-round
    * driver scalar and only the final two max lookups.
    */
  def hits(nodes: DataFrame, idCol: String, edges: DataFrame,
      iters: Int = 5): DataFrame = {
    val v = nodes.select(col(idCol).cast("long").as("node"))
    val e = edges.select(col("src").cast("long"), col("tgt").cast("long"))
      .distinct().localCheckpoint()
    val dmax = e.groupBy("src").agg(count(lit(1)).as("d"))
      .unionByName(e.groupBy(col("tgt").as("src")).agg(count(lit(1)).as("d")))
      .agg(coalesce(max("d"), lit(0L))).first().getLong(0)
    require(dmax > 0, "hits: graph has no edges — scores undefined")
    require(2 * iters * (64 - java.lang.Long.numberOfLeadingZeros(dmax)) < 62,
      s"hits: max degree $dmax over $iters iterations can overflow the " +
        "exact integer scores — reduce iterations or cap hub fan-out")
    // Optimization round 15: ONE materialization per iteration, not two.
    // Each h_{k+1} plan embeds its a_{k+1} subtree (referenced exactly
    // once, so no recompute blow-up), and the final authority frame is
    // re-derived from the last checkpointed h and materialized once —
    // exact integer sums, so the re-derivation is bit-identical to the
    // frame the old per-half-step checkpoint held. Halves the action
    // count of the power iteration; per-iteration stage work unchanged.
    def aFrom(hDf: DataFrame): DataFrame =
      v.join(e.join(hDf, e("src") === hDf("node"))
          .groupBy("tgt").agg(sum("s").as("c")),
        v("node") === col("tgt"), "left")
        .select(col("node"), coalesce(col("c"), lit(0L)).as("s"))
    var h = v.withColumn("s", lit(1L)).localCheckpoint()
    var prevH = h // h_{iters-1}, the input of the final authority frame
    for (_ <- 1 to iters) {
      prevH = h
      val a = aFrom(h)
      h = v.join(e.join(a, e("tgt") === a("node"))
            .groupBy("src").agg(sum("s").as("c")),
          v("node") === col("src"), "left")
        .select(col("node"), coalesce(col("c"), lit(0L)).as("s"))
        .localCheckpoint()
    }
    val aFinal = aFrom(prevH).localCheckpoint() // read by max + join below
    def normalized(s: DataFrame, out: String) = {
      val m = s.agg(max("s")).first().getLong(0) // bounded scalar, once
      s.select(col("node"),
        round(col("s").cast("double") / m.toDouble, 9).as(out))
    }
    v.join(normalized(aFinal, "auth"), "node")
      .join(normalized(h, "hub"), "node")
  }

  /** The oracle-gated query: 5-iteration PageRank over the pseudo-link
    * graph of the documents table.
    */
  def documentPageRank(docs: DataFrame): DataFrame = {
    val nodes = docs.select(col("doc_id"))
    val n = docs.count()
    val edges = pseudoEdges(nodes, "doc_id", n)
    pageRank(nodes, "doc_id", edges).withColumnRenamed("node", "doc_id")
  }

  /** Global triangle count over the undirected simplification of the
    * edge set — the clustering-structure metric link-graph audits report
    * next to degree stats. Directions collapse (`least/greatest`
    * canonicalization), self-loops and parallel edges drop, and each
    * triangle {u < v < w} is counted exactly once by joining ordered
    * wedges (u,v)+(v,w) against the closing edge (u,w).
    *
    * Plan: the canonical edge set materializes once for its three join
    * roles; two equi-joins (wedge build, wedge close), no cross product.
    * Cost is Σ deg(v)² wedge rows — the inherent triangle-join bound.
    * At skewed 100 TB scale, orient edges low-degree → high-degree
    * first (each triangle then builds its wedge only at its
    * lowest-degree vertex, cutting the hub's deg² blow-up) and cap
    * pathological hubs with the family's maxBucket discipline; the
    * join shape below is unchanged by either refinement.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // one materialization, three join roles
    val wedges = und.select(col("a").as("u"), col("b").as("v"))
      .join(und.select(col("a").as("v"), col("b").as("w")), "v")
    wedges.join(und.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Resource-allocation link prediction (Zhou–Lü–Zhang 2009): score
    * every NON-adjacent pair (a, b) sharing at least one common
    * neighbor by `Σ_{z ∈ N(a)∩N(b)} 1/deg(z)` — the member of the
    * common-neighbor index family (CN / Adamic–Adar / RA) whose terms
    * are exact in integer micro space: each z contributes
    * `10⁶ div deg(z)`, so both engines sum identical integers (an
    * Adamic–Adar `1/ln deg` would ride libm — RA is the published
    * variant that needs no float at all, and it outperforms AA on the
    * benchmark suites in the original paper).
    *
    * Shape: candidates come from the common-neighbor wedge join
    * (adjacency ⋈ adjacency on z), whose volume is Σ_z deg(z)² — the
    * triangle-counting bound. `maxDeg` drops hub pivots above the cap
    * BEFORE the join (a celebrity node's 1/deg term is ~0 anyway, and
    * its deg² wedge fan-out is exactly the skew that kills the join at
    * scale); the cap is part of the operator contract and replayed by
    * the oracle. Known links are removed by an anti-join against the
    * canonical edge set. Returns (a, b, n_common, ra_micro), a < b.
    */
  def resourceAllocation(edges: DataFrame, maxDeg: Int = 10000): DataFrame = {
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // one materialization: adjacency ×2 + anti-join
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("node").as("z")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("node").as("x"), col("nbr").as("z"))
      .join(adj.select(col("node").as("y"), col("nbr").as("z")), "z")
      .where(col("x") < col("y"))
      .join(deg.where(col("deg") <= maxDeg), "z")
    val scored = wedges
      .select(col("x"), col("y"), expr("1000000 div deg").as("term"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"), sum("term").as("ra_micro"))
    scored.join(und, scored("x") === und("a") && scored("y") === und("b"),
        "left_anti")
      .select(col("x").as("a"), col("y").as("b"), col("n_common"),
        col("ra_micro"))
  }

  /** Adamic–Adar link prediction — [[resourceAllocation]]'s classic
    * sibling: common neighbors weighted `1/ln(deg(z))` instead of
    * `1/deg(z)` (the gentler hub discount — AA still credits
    * mid-degree hubs that RA zeroes out, the standard trade in the
    * CN/AA/RA family). A common neighbor has degree ≥ 2 by
    * construction, so `ln(deg) ≥ ln 2` — no division guard needed.
    * Float discipline: ONE micro rounding per wedge-center degree
    * (`round(10⁶/ln(deg))` — both engines evaluate it from the same
    * exact integer), then pure integer sums; same wedge bound,
    * `maxDeg` hub cap, and known-edge anti-join as RA.
    */
  def adamicAdar(edges: DataFrame, maxDeg: Int = 10000): DataFrame = {
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // one materialization: adjacency ×2 + anti-join
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("node").as("z")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("node").as("x"), col("nbr").as("z"))
      .join(adj.select(col("node").as("y"), col("nbr").as("z")), "z")
      .where(col("x") < col("y"))
      .join(deg.where(col("deg") <= maxDeg), "z")
    val scored = wedges
      .select(col("x"), col("y"),
        expr("cast(round(1000000 / ln(deg)) as bigint)").as("term"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"), sum("term").as("aa_micro"))
    scored.join(und, scored("x") === und("a") && scored("y") === und("b"),
        "left_anti")
      .select(col("x").as("a"), col("y").as("b"), col("n_common"),
        col("aa_micro"))
  }

  /** One-level Louvain-style community refinement: `rounds` rounds of
    * greedy label moves over the undirected simplification of the edge
    * set, starting from singleton communities. Each active node adopts
    * the community (drawn from its neighbors' current labels, or its
    * own) maximizing the standard Louvain gain, compared in EXACT scaled
    * integers — `score(c) = 2m·k_{i,c} − k_i·Σ_tot^{−i}(c)` (the
    * 2m²-scaled ΔQ with the constant terms dropped), ties broken by
    * minimum community id — so every round is bit-reproducible and a
    * SQL oracle can unroll the moves verbatim.
    *
    * Synchronous whole-graph updates ping-pong (two mutual best moves
    * swap labels forever — observed on the two-triangle hand graph), so
    * rounds alternate by node parity: round r moves only nodes with
    * `(id + r) % 2 == 0`, the deterministic red-black schedule from
    * parallel Louvain practice. Two full sweeps (rounds = 4) settle
    * small structures; the hand graph converges in 3.
    *
    * Plan shape per round: one symmetric-neighbor join against the
    * current O(V) label table, two map-side-combined aggregates
    * (neighbor-community counts, community degree sums), one
    * broadcast-size argmax window partitioned by node. Labels are
    * checkpointed per round (linear lineage, [[pageRank]] discipline).
    * Returns (id, cluster).
    */
  def louvainMoves(nodes: DataFrame, idCol: String, edges: DataFrame,
      rounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, "rounds must be >= 1")
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    val m = und.count()
    val sym = und.select(col("a").as("i"), col("b").as("nb"))
      .union(und.select(col("b").as("i"), col("a").as("nb")))
      .localCheckpoint()
    val deg = sym.groupBy("i").agg(count(lit(1)).as("k"))
    var labels = nodes
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("com"))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      // community degree sums under the CURRENT labels (isolated nodes
      // have no deg row and contribute the 0 they should)
      val comdeg = labels.join(deg, labels("id") === deg("i"))
        .groupBy("com").agg(sum(col("k")).as("sigma"))
      val nbc = sym
        .join(labels.select(col("id").as("nb"), col("com").as("c")), "nb")
        .groupBy("i", "c").agg(count(lit(1)).as("kic"))
      val own = labels.select(col("id").as("i"), col("com").as("c"),
        lit(0L).as("kic"))
      val cand = nbc.unionByName(own).groupBy("i", "c")
        .agg(max(col("kic")).as("kic"))
      val scored = cand
        .join(deg, Seq("i"), "left")
        .join(labels.select(col("id").as("i"), col("com").as("own")), Seq("i"))
        .join(comdeg.select(col("com").as("c"), col("sigma")), Seq("c"), "left")
        .select(col("i"), col("c"), col("own"),
          (lit(2L * m) * col("kic")
            - coalesce(col("k"), lit(0L))
              * (coalesce(col("sigma"), lit(0L))
                - when(col("c") === col("own"),
                    coalesce(col("k"), lit(0L))).otherwise(lit(0L))))
            .as("score"))
      val best = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("i").orderBy(col("score").desc, col("c").asc)))
        .where(col("rn") === 1)
        .select(col("i").as("id"), col("c").as("pick"))
      labels = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          when(pmod(col("id") + r, lit(2)) === 0,
            coalesce(col("pick"), col("com"))).otherwise(col("com")).as("com"))
        .localCheckpoint()
    }
    labels.select(col("id"), col("com").as("cluster"))
  }

  /** Newman modularity of a node labeling over an undirected graph — the
    * standard "is this clustering better than chance" gate on a dedup/
    * community run (Q ≈ 0: no better than random; Q ≳ 0.3: real
    * structure). Per cluster c: Q_c = e_c/m − (d_c/2m)², summed over
    * clusters; this returns one row per cluster with every term EXACT —
    * `q_num = 4·m·e_c − d_c²` over the common denominator 4m², so the
    * only float is one final ppm rounding — plus the exact integers for
    * hash-stable comparison.
    *
    * Unlabeled endpoints (nodes absent from `labels`) count toward m
    * and toward their own null cluster row — dropping them silently
    * would inflate every other cluster's share.
    *
    * Plan shape: canonical-edge dedup (one exchange), two broadcast
    * label joins onto the edge list, then two map-side-combined
    * aggregates (per-cluster intra-edge count; per-cluster degree sum
    * via the symmetric endpoint union). Nothing bigger than
    * |edges| shuffles, state is O(clusters).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // m, intra, and degrees all read it
    val lab = labels.select(col("id"), col("cluster"))
    val m = und.count()
    val withLabels = und
      .join(lab.select(col("id").as("a"), col("cluster").as("ca")), Seq("a"), "left")
      .join(lab.select(col("id").as("b"), col("cluster").as("cb")), Seq("b"), "left")
    val intra = withLabels
      .where(col("ca").isNotNull && col("ca") === col("cb"))
      .groupBy(col("ca").as("cluster"))
      .agg(count(lit(1)).as("e_intra"))
    val degrees = withLabels.select(col("a").as("id"), col("ca").as("cluster"))
      .union(withLabels.select(col("b").as("id"), col("cb").as("cluster")))
      .groupBy("cluster").agg(count(lit(1)).as("d_sum"))
    degrees.join(intra, Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"), col("d_sum"),
        (lit(4L) * lit(m) * coalesce(col("e_intra"), lit(0L))
          - col("d_sum") * col("d_sum")).as("q_num"))
      .withColumn("q_ppm", // FLOOR, not round: a half-ppm boundary is
        // reachable from small integer inputs and the engines' round-half
        // conventions differ; floor never ties (q118 discipline)
        floor(col("q_num").cast("double") * lit(1e6)
          / lit(4.0 * m.toDouble * m.toDouble)).cast("long"))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop every
    * node whose degree among SURVIVING nodes is < k until no node drops;
    * returns the k-core members with their within-core degree. The graph
    * community/spam filter that degree thresholds alone can't compute —
    * a node with 100 edges all into peeled-away shell nodes is NOT in
    * the core.
    *
    * Per round: one symmetric-edge filter against the current survivor
    * set (two co-keyed joins) + one degree count — O(E) work, O(V)
    * state. Survivor tables only SHRINK, so round count is bounded by
    * the degeneracy ordering depth (6 rounds on the sf0.1 pseudo-graph);
    * each round materializes through [[graft.Checkpoint]] (the
    * double self-reference per round would otherwise square carried
    * size estimates — the q161 driver-stall lesson) with the survivor
    * count collected free via `observe` during the same job. Shrinkage
    * makes count equality a convergence PROOF (alive' ⊆ alive always).
    *
    * `maxRounds` must cover the true peel depth AND any unrolled-SQL
    * oracle must unroll ≥ that depth — peeling is idempotent at the
    * fixpoint, so over-unrolling is exact while under-unrolling fails
    * loudly here rather than silently diverging.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    // The static symmetric edge set is staged ONCE (a plain eager
    // `localCheckpoint`: no partitioning or sort), and the round body
    // counts FIRST, filters the i-side SECOND: deg(i | alive) =
    // |{nb ∈ alive}| is the same count whether or not dead i rows are
    // dropped before grouping, so the per-round work is one semi-filter
    // of the staged side against `alive` and ONE data-sized groupBy.
    val sym = und.select(col("a").as("i"), col("b").as("nb"))
      .union(und.select(col("b"), col("a")))
      .localCheckpoint(true)
    // survivor degree count: edges whose neighbor survives, grouped by
    // i over ALL i — one semi-filter on the staged side + one groupBy
    def liveDeg(alive: DataFrame, out: String): DataFrame =
      sym.join(alive.select(col("i").as("nb")), Seq("nb"), "left_semi")
        .groupBy("i").agg(count(lit(1)).as(out))
    var (alive, n) = graft.Checkpoint(sym.select(col("i")).distinct())
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // `c ≥ k` PROVES membership in `alive`: alive only shrinks, so
      // per-i counts against it are monotone nonincreasing across
      // rounds — a peeled i once counted < k and can never count ≥ k
      // again. The i-side alive join the old round body paid is
      // therefore redundant inside the loop (kept only for the final
      // degree report, where sub-k counts must not leak out).
      val (next, n2) = graft.Checkpoint(
        liveDeg(alive, "c").where(col("c") >= k).select("i"))
      converged = n2 == n
      alive = next
      n = n2
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not converge in $maxRounds rounds — raise maxRounds " +
      "(and any unrolled oracle) above the graph's peel depth")
    liveDeg(alive, "core_deg").join(alive, Seq("i"))
      .select(col("i").as("id"), col("core_deg"))
  }

  /** Semi-supervised label propagation over a symmetric edge set:
    * unlabeled nodes take the MAJORITY label among their labeled
    * neighbors each synchronized round (count desc, label asc tiebreak —
    * fully deterministic), and a label FREEZES once assigned (seeds never
    * change, propagated labels are monotone) — so the result is a pure
    * function of (seeds, edges, iters) with no order dependence to drift
    * between engines. The training-data use: spread a small
    * human-labeled seed set across an embedding similarity graph to
    * pseudo-label the rest of the corpus.
    *
    * Each round is one join of the edge set against the currently
    * labeled frontier + two grouped aggregates — O(edges) per round,
    * no per-node state beyond the label table. Unreached nodes keep a
    * null label.
    */
  def labelPropagation(nodes: DataFrame, idCol: String, seeds: DataFrame,
      seedIdCol: String, labelCol: String, edges: DataFrame,
      iters: Int = 3): DataFrame = {
    // static side checkpointed ONCE (round-16, the pageRank diet): the
    // edge frame is referenced by every round's vote join, and callers
    // hand in DERIVED edge sets (q203's is a full cosine near-dup
    // self-join) that would otherwise re-run per round
    val e = edges
      .select(col("src").cast("long").as("src"),
        col("tgt").cast("long").as("id"))
      .localCheckpoint(false)
    var labels = nodes.select(col(idCol).cast("long").as("id"))
      .join(seeds.select(col(seedIdCol).cast("long").as("id"),
        col(labelCol).cast("long").as("label")), Seq("id"), "left")
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.where(col("label").isNotNull)
          .select(col("id").as("src"), col("label").as("nl")), Seq("src"))
        .groupBy(col("id"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(max_by(col("nl"),
          struct(col("c"), (lit(0L) - col("nl")).as("neg"))).as("maj"))
      labels = labels.join(votes, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("maj")).as("label"))
        .localCheckpoint()
    }
    labels.select(col("id").as(idCol), col("label"))
  }

  /** Transitive ancestor closure of a forest parent relation by POINTER
    * DOUBLING: round k holds every (desc, anc, dist) pair with dist ≤ 2^k,
    * built by joining the current closure with itself — O(log depth)
    * rounds instead of a depth-linear parent chase (the difference
    * between 5 shuffles and 50 on a deep hierarchy; each round is one
    * equi-join + distinct on the closure, whose total size is
    * Σ depth(v) — the output's own size, so no round does asymptotically
    * more work than emitting the answer). Distances are well-defined
    * (unique tree paths), so the distinct collapses the multiple binary
    * splits that generate the same pair. Convergence = closure size
    * stops growing (grow-only set ⇒ count equality is a proof, the
    * shrink-side twin of [[kCore]]'s argument); rounds are bounded by
    * log₂(maxDepth) with a loud failure past it.
    *
    * Chains stop where the parent relation has no row — closure of the
    * GIVEN edges, no synthesized intermediates.
    */
  def ancestorClosure(parents: DataFrame, childCol: String,
      parentCol: String, maxDepth: Int = 1 << 20): DataFrame = {
    var (p, n) = graft.Checkpoint(parents
      .select(col(childCol).cast("long").as("desc"),
        col(parentCol).cast("long").as("anc"))
      .where(col("desc") =!= col("anc"))
      .withColumn("dist", lit(1L))
      .distinct())
    var span = 1L
    var converged = false
    while (!converged && span < 2L * maxDepth) {
      val (next, n2) = graft.Checkpoint(
        p.unionByName(
          p.as("x").join(p.as("y"), col("x.anc") === col("y.desc"))
            .select(col("x.desc").as("desc"), col("y.anc").as("anc"),
              (col("x.dist") + col("y.dist")).as("dist")))
          .distinct())
      converged = n2 == n
      p = next
      n = n2
      span *= 2
    }
    if (!converged) throw new IllegalStateException(
      s"ancestorClosure did not converge within depth $maxDepth — " +
      "cycle in the parent relation, or raise maxDepth")
    p
  }

  /** Subtree rollup over [[ancestorClosure]]: for every node that is an
    * ancestor (or itself — dist-0 self pairs are included), aggregate
    * the per-node fact columns over its whole subtree. `facts` is one
    * row per node (`idCol`, …numeric fact columns…); output is
    * (node, n_subtree, sum per fact column). One closure join + one
    * grouped aggregate — the closure is the only super-linear object,
    * and it is output-sized.
    */
  def subtreeRollup(parents: DataFrame, childCol: String, parentCol: String,
      facts: DataFrame, idCol: String, factCols: Seq[String]): DataFrame = {
    val closure = ancestorClosure(parents, childCol, parentCol)
      .select(col("desc"), col("anc"))
      .unionByName(facts.select(col(idCol).cast("long").as("desc"),
        col(idCol).cast("long").as("anc")))
    closure.join(facts.withColumnRenamed(idCol, "_fid"),
        closure("desc") === col("_fid"))
      .groupBy(col("anc").as("node"))
      .agg(count(lit(1)).as("n_subtree"),
        factCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
  }

  /** K-hop feature propagation — GNN-style mean message passing, the
    * feature-engineering verb behind "enrich each node with its
    * neighborhood" (fraud rings, supply-chain smoothing, citation
    * features). Each round every node with in-neighbors replaces its
    * feature with the TRUNCATING integer mean of their current
    * features (`sum div count` — both engines truncate); nodes without
    * in-neighbors carry their feature forward unchanged. Rounds are a
    * driver-bounded unrolled loop (like [[pageRank]]); per-round cost
    * is one O(edges) join + one keyed aggregate — never anything
    * quadratic. Multi-edges are collapsed first so a duplicated edge
    * row cannot double-weight a neighbor.
    *
    * Emits `(id, feat_in, feat_out)` — input feature kept beside the
    * propagated one so the drift is auditable downstream.
    */
  def featurePropagate(nodes: DataFrame, idCol: String, featCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds in [1, 8] (unrolled plan)")
    // Round-16: the [[pageRank]] iteration diet, LAZY variant — on the
    // PER-ROUND STATE ONLY. `cur` is checkpointed per round: before,
    // round r's plan referenced cur_{r-1} TWICE (directly and through
    // msgs), doubling the unrolled subtree per round (2^rounds copies
    // of the base scans at the rounds=8 bound). Two stagings of the
    // static edge set were measured and REJECTED: a bfs-style
    // src-sorted pin (+0.4 s, tasks 47→136 at rounds=2 — the staging
    // shuffle+sort costs more than the co-partitioned joins it saves)
    // AND a plain lazy localCheckpoint (sf1: 7.7 → 9.8 s — persisting
    // the DATA-SIZED edge frame loses to Spark's own ReusedExchange,
    // which already dedups the identical distinct subtree across
    // rounds for free).
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    var cur = nodes
      .where(col(idCol).isNotNull && col(featCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(featCol).cast("long").as("f0"))
      .withColumn("f", col("f0"))
    // the per-round cut is GATED on round count: at rounds ≤ 3 the
    // fully-lazy unrolled plan is FASTER (≤ 8 duplicated leaf refs,
    // which ReusedExchange dedups at runtime, and the un-truncated DAG
    // lets consecutive rounds' stages pipeline — sf1 measured 7.7 s
    // lazy vs 9.8-11.0 s with any per-round cut), while past it the
    // 2^rounds subtree doubling starts to dominate the OPTIMIZER (256
    // leaf refs at the rounds=8 bound), which no runtime reuse fixes
    val cutEvery = rounds > 3
    for (_ <- 1 to rounds) {
      val msgs = e
        .join(cur.select(col("id").as("src"), col("f").as("fs")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(expr("sum(fs) div count(1)").as("fin"))
      cur = cur.join(msgs, Seq("id"), "left")
        .withColumn("f", coalesce(col("fin"), col("f")))
        .drop("fin")
      if (cutEvery) cur = cur.localCheckpoint(false)
    }
    cur.select(col("id"), col("f0").as("feat_in"), col("f").as("feat_out"))
  }

  /** Multi-source BFS hop distances — the "blast radius" verb (which
    * nodes sit within k hops of a seed set: incident scoping, recall
    * expansion, supply-chain exposure). Classic frontier BFS unrolled
    * a driver-bounded `maxHops` rounds: each round joins ONLY the
    * newly-discovered frontier to the edge list (O(frontier-incident
    * edges), never the whole known set), anti-joins already-known
    * nodes away, and tags survivors with the hop count — so a node's
    * `dist` is its true minimum distance by construction. Multi-edges
    * collapsed; unreached nodes are absent, never a sentinel distance.
    */
  def bfsDistances(seeds: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8, "maxHops in [1, 8] (unrolled)")
    // Optimization round 15, two changes (guide §2.4 — remove shuffles
    // outright):
    //  1. The edge table is staged ONCE hash-partitioned (and sorted)
    //     by `src`; localCheckpoint preserves that physical layout, so
    //     every hop's expansion join is co-partitioned on the edge side
    //     — before, the full edge set was re-exchanged and re-sorted on
    //     EVERY hop (maxHops × O(E) shuffle for a static table). The
    //     frontier side is already hash(node)-partitioned from its own
    //     distinct/anti-join, so the hop join plans with no exchange at
    //     all.
    //  2. `known` is kept as the list of per-hop checkpointed layers and
    //     unioned lazily (each layer is materialized exactly once as the
    //     hop's `next`), dropping the per-hop union re-materialization —
    //     one action per hop instead of two. Lineage stays shallow: a
    //     union of checkpointed frames re-evaluates nothing.
    val nParts = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(nParts, col("src")).sortWithinPartitions("src")
      .localCheckpoint()
    val seed = seeds.select(col(idCol).cast("long").as("node"))
      .where(col("node").isNotNull).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    var layers = List(seed)
    var frontier = seed.select("node")
    for (h <- 1 to maxHops) {
      val knownNodes = layers.map(_.select("node")).reduce(_ unionByName _)
      val next = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(knownNodes, Seq("node"), "left_anti")
        .localCheckpoint()
      layers = layers :+ next.withColumn("dist", lit(h.toLong))
      frontier = next
    }
    layers.reduce(_ unionByName _)
  }

  /** Capped bipartite co-occurrence projection — the graph-CONSTRUCTION
    * verb behind "related items": project item–context incidence onto
    * item–item edges weighted by shared contexts. The scale hazard is
    * the hub context (one context holding 10⁶ items fans out 10¹²
    * pairs), so each context is first capped to its `capPerContext`
    * strongest items (by incidence count, id-pinned ties — a
    * `row_number ≤ cap` WindowGroupLimit that prunes map-side); the
    * pair join is then bounded by contexts·cap² REGARDLESS of skew.
    * Emits the `topPairs` strongest edges (count-desc, id-pinned) —
    * a TakeOrderedAndProject, never a global sort.
    */
  def cooccurrenceProjection(df: DataFrame, contextCol: String,
      itemCol: String, capPerContext: Int = 32,
      topPairs: Int = 50): DataFrame = {
    require(capPerContext >= 2 && topPairs >= 1)
    val inc = df
      .filter(col(contextCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(contextCol).as("ctx"), col(itemCol).as("item"))
      .agg(count(lit(1)).as("w"))
    val capped = inc
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("ctx")
          .orderBy(col("w").desc, col("item").asc)))
      .where(col("rn") <= capPerContext)
      .select(col("ctx"), col("item"))
    val a = capped.select(col("ctx"), col("item").as("ia"))
    val b = capped.select(col("ctx").as("ctxb"), col("item").as("ib"))
    a.join(b, col("ctx") === col("ctxb") && col("ia") < col("ib"))
      .groupBy("ia", "ib")
      .agg(count(lit(1)).as("shared_contexts"))
      .orderBy(col("shared_contexts").desc, col("ia").asc, col("ib").asc)
      .limit(topPairs)
  }

  /** Degree assortativity — does the graph wire hubs to hubs
    * (assortative, r > 0, social-network shape) or hubs to leaves
    * (disassortative, r < 0, web/biology shape)? The answer decides
    * whether hub-removal or skew-salting strategies matter. Computed
    * as the Pearson correlation of (deg(src), deg(tgt)) over the
    * SYMMETRIZED directed edge list (each undirected edge counted in
    * both directions — Newman 2002's convention, which makes the two
    * marginals identical). All five sums are exact decimals; the one
    * double appears in the final `num / sqrt(dx·dy)` rounded 6 d.p.
    * (the [[modularity]]/cramersV discipline). A degree-regular graph
    * (dx = 0) yields null, never a fake 0.
    *
    * Scale: one degree aggregate, two co-keyed joins to bolt degrees
    * onto endpoints, one global aggregate — all map-side combinable;
    * nothing bigger than the edge list is ever materialized.
    *
    * Measured alternative (round 13, REJECTED): the degree-moment
    * identity (m = Σd, Σdx = Σd², Σdx² = Σd³ from the node-sized
    * degree table; only Σdx·dy needs an edge join) shrinks the plan
    * to ONE edge join — but the same-night sf10 A/B put it 34% SLOWER
    * (old 85.4 s vs moment 113.7 s): the saved join is paid back by
    * the extra edge-frame groupBy and the eager degree checkpoint.
    * The round-13 sweep's 418 s / exp 1.47 row that motivated it was
    * host drift, not plan cost (SCALING.md round-13 session 2).
    *
    * Measured alternative (round 14, REJECTED): DISK_ONLY for the sym
    * checkpoint (to stop storage stealing unified memory from the
    * join) — sf10 A/B 28.6 s vs 25.8 s for MEMORY_AND_DISK; and the
    * remaining "memory component" of the r13 sweep was adjudicated a
    * HARNESS artifact (the unpinned 24 GiB probe heap burns ~30%
    * kernel time on this VM; at the default 8 GiB heap the family
    * measures exp 0.18–0.24 — SCALING.md round 14).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val sym = edges.select(col("src"), col("tgt"))
      .unionByName(edges.select(col("tgt").as("src"), col("src").as("tgt")))
      .distinct()
      .localCheckpoint() // two roles: degree aggregate + endpoint join
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val paired = sym
      .join(deg.select(col("node"), col("d").as("dx")),
        sym("src") === col("node")).drop("node")
      .join(deg.select(col("node"), col("d").as("dy")),
        col("tgt") === col("node")).drop("node")
    paired.agg(count(lit(1)).as("m"),
        sum(col("dx").cast(dec)).as("sx"),
        sum(col("dy").cast(dec)).as("sy"),
        sum(expr(s"cast(dx as $dec) * dy")).as("sxy"),
        sum(expr(s"cast(dx as $dec) * dx")).as("sx2"),
        sum(expr(s"cast(dy as $dec) * dy")).as("sy2"))
      .select(col("m"),
        expr(s"cast(m as $dec) * sxy - sx * sy").cast("double").as("_num"),
        expr(s"cast(m as $dec) * sx2 - sx * sx").cast("double").as("_dx"),
        expr(s"cast(m as $dec) * sy2 - sy * sy").cast("double").as("_dy"))
      .select(col("m"),
        when(col("_dx") > 0 && col("_dy") > 0,
          round(col("_num") / sqrt(col("_dx") * col("_dy")), 6))
          .as("assortativity"))
  }

  /** Rich-club profile — for each degree threshold k on a ladder, the
    * density of the subgraph induced by nodes with degree > k:
    * `φ(k) = E_k / (N_k·(N_k−1))` over the symmetrized directed edge
    * list (so the undirected 2E/(N(N−1)) identity holds without a /2).
    * A rising φ(k) means the hubs form a tight club — the corpus/link
    * structure where a handful of domains all cite each other, which
    * is exactly the structure dedup/PageRank skew planning cares
    * about. Exact ppm; N_k < 2 yields null.
    *
    * Scale: degrees once, one join to bolt both endpoint degrees on,
    * then the k-ladder is a bounded-lattice explode over the already
    * aggregated edge frame — work is edges·|ladder| with map-side
    * combine, never edges².
    *
    * Measured alternative (round 13, REJECTED): collapsing the edge
    * frame to a node×(maxK+1) clamped-degree histogram after ONE
    * tgt-side join (so the ladder explodes node-sized rows) measured
    * 49% SLOWER in the same-night sf10 A/B (old 54.7 s vs histogram
    * 81.7 s) — the saved join is paid back by the edge-frame groupBy
    * + eager degree checkpoint. The sweep row that motivated it
    * (329 s / exp 1.48) was host drift (SCALING.md round-13
    * session 2). Round-14 A/B also rejected DISK_ONLY for the sym/deg
    * checkpoints: sf10 23.0 s vs 14.3 s — the thrice-read node-sized
    * deg frame pays the disk round-trip hardest (SCALING.md round 14).
    */
  def richClub(edges: DataFrame, maxK: Int = 8): DataFrame = {
    require(maxK >= 1 && maxK <= 64, s"maxK out of range: $maxK")
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src"), col("tgt"))
      .unionByName(edges.select(col("tgt").as("src"), col("src").as("tgt")))
      .distinct()
      .localCheckpoint() // two roles: degree aggregate + endpoint join
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
      .localCheckpoint() // three roles: N_k ladder + both endpoint joins
    val ks = (1 to maxK).map(_.toLong).toDF("k")
    val nk = deg.crossJoin(broadcast(ks)).where(col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val paired = sym
      .join(deg.select(col("node"), col("d").as("dx")),
        sym("src") === col("node")).drop("node")
      .join(deg.select(col("node"), col("d").as("dy")),
        col("tgt") === col("node")).drop("node")
    val ek = paired.crossJoin(broadcast(ks))
      .where(col("dx") > col("k") && col("dy") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") >= 2,
          expr("(1000000 * n_edges) div (n_nodes * (n_nodes - 1))"))
          .as("phi_ppm"))
  }

  /** Local clustering coefficient per node — [[triangleCount]]'s
    * global number localized: `c(v) = 2·T(v) / (d(v)·(d(v)−1))`, the
    * share of a node's neighbor pairs that are themselves connected
    * (the transitivity signal behind community cores vs star hubs,
    * and the per-node companion to [[richClub]]'s degree-threshold
    * ladder). Triangles enumerate once as ordered u < v < w wedges
    * (canonical edge joined to itself on the middle node, closed by
    * an inner join on (u, w)) and each triangle credits all three
    * corners via a 3-element explode — exact integer counts, exact
    * truncating milli ratio. Degree-1 and isolated-from-triangle
    * nodes emit c = null / 0 triangles respectively.
    *
    * Scale: the wedge join is the Σ deg² triangle bound — the same
    * cost [[triangleCount]] and [[resourceAllocation]] already carry;
    * the edge set checkpoints once and serves all three join roles.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("tgt")).as("a"),
        greatest(col("src"), col("tgt")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // one materialization, degree + 3 join roles
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tris = und.select(col("a").as("u"), col("b").as("v"))
      .join(und.select(col("a").as("v"), col("b").as("w")), "v")
      .join(und.select(col("a").as("u"), col("b").as("w")), Seq("u", "w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          expr("(2000 * coalesce(n_triangles, 0))" +
            " div (degree * (degree - 1))")).as("lcc_milli"))
  }
}
