package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity operators over `array<float>` embedding columns.
  *
  * Scale design: brute-force top-k is the exact baseline — a broadcast of
  * the (tiny) query side against a scan of the vector table, no shuffle,
  * one pass. The IVF variant is the 100 TB path: vectors are pre-assigned
  * to a small centroid table (one broadcast join at ingest), searches probe
  * only the closest `nProbe` centroid buckets — a partition-pruned scan
  * when the table is written partitioned by `centroid_id`.
  */
object Similarity {
  /** Elementwise-double view of a float-array embedding (exact widening —
    * keeps later arithmetic bit-comparable across engines).
    */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** MEAN-POOL chunk embeddings to a parent representation — the
    * RAG/doc-level aggregation step (chunk vectors in, one document
    * vector out) with the family's exact-integer float discipline:
    * each element is rounded ONCE to micro units (the only
    * float→int step, deterministic per element), then pooling is an
    * integer SUM per dimension and one floor division by the chunk
    * count — no float accumulation whose partition order could differ
    * between engines. Emits `(group, dim, micro, n_chunks)` exploded
    * rows (the oracle-safest shape); `micro / 1e6` is the pooled
    * coordinate when a float vector is needed downstream.
    *
    * Plan: one posexplode (narrow), one (group, dim) aggregate —
    * map-side combinable, never a collect; dimensions are a design
    * constant so the shuffle is |groups|·dims rows.
    */
  def meanPoolEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
      groupExpr: Column): DataFrame =
    emb
      .select(groupExpr.as("group_id"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim", "x")))
      .select(col("group_id"), col("dim").cast("long").as("dim"),
        round(col("x") * 1000000).cast("long").as("xm"))
      .groupBy("group_id", "dim")
      .agg(expr("sum(xm) div count(1)").as("micro"),
        count(lit(1)).as("n_chunks"))

  /** Johnson–Lindenstrauss random projection — the dimension-reduction
    * step ahead of ANN at scale (64-dim → `outDims` sign projection:
    * distances are preserved within the JL bound at a fraction of the
    * index cost). The ±1 projection matrix is a SEEDED md5 artifact —
    * sign(o,d) = +1 iff the first hex char of md5("rp|seed|o|d") is in
    * 0..7 — computed once on the driver and inlined as a literal, so
    * the oracle re-derives the identical matrix from DuckDB's md5 of
    * the same strings (the DctC-table discipline: model constants are
    * pinned, never floated per-engine).
    *
    * Float discipline: one micro-unit rounding per input element, then
    * ±micro sums whose every partial stays an exact integer below 2^53
    * — no accumulation-order sensitivity exists. Execution shape: a
    * NARROW per-row map (one codegen'd [[graft.functions.DotProduct]]
    * per out dim against a constant sign-row Literal) + an output-sized
    * `posexplode`; zero shuffles — at 100 TB this runs at scan speed
    * beside the read. Null embeddings are skipped; a null ELEMENT or an
    * over-limit dimensionality fails by name (the dot kernel would
    * silently treat it as 0).
    */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int, seed: String = "jl"): DataFrame = {
    require(outDims >= 1 && outDims <= 256, "outDims must be in [1, 256]")
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // literal ±1 matrix, outDims × inDims-agnostic: signs are defined
    // per (o, d) on demand, so any input dimensionality shares the seed
    val maxIn = 128 // ceiling on supported input dims (64 here)
    // each sign row is ONE constant array Literal; the projection is one
    // codegen'd dot per out dim (micro values ≤ ~1e6, 64-term sums stay
    // far inside double's 2^53 exact-integer range — order-free exact).
    // The kernel iterates min(len), so a longer sign row adapts to any
    // input dimensionality ≤ maxIn for free.
    val signRows: IndexedSeq[Column] = (0 until outDims).map { o =>
      typedlit((0 until maxIn).map { d =>
        if (md5Hex(s"rp|$seed|$o|$d").charAt(0) <= '7') 1.0 else -1.0
      })
    }
    val microRaw = transform(asDouble(col(vecCol)), x => round(x * 1000000))
    // the dot kernel SKIPS null elements — guard loudly first, so a null
    // element or over-limit input can never become a silently-wrong sum
    val micro = when(size(microRaw) > maxIn ||
        exists(microRaw, x => x.isNull), expr(
        "raise_error('randomProjection: null element or input dims > 128')"))
      .otherwise(microRaw)
    emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), micro.as("m"))
      .select(col("vec_id"),
        posexplode(array(signRows.map(sgn =>
          fastDot(col("m"), sgn).cast("long")): _*))
          .as(Seq("out_dim", "proj_micro")))
      .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"),
        col("proj_micro"))
  }

  /** Embedding-centroid drift monitor — the production gate on a
    * re-embedding or upstream-model change: per snapshot, the
    * mean-pooled centroid (exact micro algebra shared with
    * [[meanPoolEmbeddings]]), then each snapshot vs its predecessor as
    * (a) cosine, the ONE engine-float division rounded to 6 d.p.
    * (q221's discipline), and (b) the exact BIGINT squared-L2 shift
    * that carries the hash check. Everything after the first
    * aggregation is snapshot×dim-sized — nothing data-sized is joined,
    * sorted, or windowed, so the monitor costs one scan at any SF.
    */
  def embeddingDrift(emb: DataFrame, idCol: String, vecCol: String,
      snapshotExpr: Column): DataFrame = {
    val cent = meanPoolEmbeddings(emb, idCol, vecCol, snapshotExpr)
      .select(col("group_id").cast("long").as("snap"), col("dim"),
        col("micro"))
    val prev = cent.select((col("snap") + 1).as("snap"), col("dim"),
      col("micro").as("pmicro"))
    cent.join(prev, Seq("snap", "dim"))
      .groupBy("snap")
      .agg(count(lit(1)).as("n_dims"),
        sum(col("micro") * col("pmicro")).as("dot"),
        sum(col("micro") * col("micro")).as("na"),
        sum(col("pmicro") * col("pmicro")).as("nb"),
        sum((col("micro") - col("pmicro")) *
          (col("micro") - col("pmicro"))).as("l2_micro2"))
      .select(col("snap").as("snapshot"), col("n_dims"),
        when(col("na") === 0 || col("nb") === 0, lit(null).cast("double"))
          .otherwise(round(col("dot").cast("double") /
            sqrt(col("na").cast("double") * col("nb").cast("double")), 6))
          .as("cos_prev"),
        col("l2_micro2"))
  }

  /** Embedding outlier gate — mislabel/garbage detection for a labeled
    * embedding table: a vector far from its OWN label's centroid is a
    * labeling error or a degenerate embedding, and both poison
    * contrastive training. Per label: exact micro centroid (the
    * [[meanPoolEmbeddings]] lattice), each vector's exact BIGINT
    * squared-L2 micro² distance to it, then the robust MAD fence in
    * doubled/quadrupled integer space (the q150 discipline — medians
    * of doubled values stay integers; `|2·d − m2|·2 > k·mad4` is pure
    * integer comparison). Emits one summary row per label; nothing
    * data-sized survives the second aggregate.
    */
  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 3): DataFrame = {
    val vm = emb
      .filter(col(idCol).isNotNull && col(labelCol).isNotNull &&
        col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).as("lbl"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim", "x")))
      .select(col("id"), col("lbl"), col("dim"),
        round(col("x") * 1000000).cast("long").as("xm"))
    val cent = vm.groupBy("lbl", "dim")
      .agg(expr("sum(xm) div count(1)").as("cm"))
    val d2 = vm.join(cent, Seq("lbl", "dim"))
      .groupBy("lbl", "id")
      .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm")))
        .as("d2"))
    val fence = d2.groupBy("lbl")
      .agg(count(lit(1)).as("n"),
        percentile(col("d2") * 2, lit(0.5)).cast("long").as("m2"))
    val fence2 = d2.join(fence, "lbl")
      .withColumn("dev2", abs(col("d2") * 2 - col("m2")))
      .groupBy(col("lbl"), col("n"), col("m2"))
      .agg(percentile(col("dev2") * 2, lit(0.5)).cast("long").as("mad4"))
    d2.join(fence2, "lbl")
      // |d − m| > k·MAD in integer space: dev2/2 > k·mad4/4 ⟺ 2·dev2 > k·mad4
      .withColumn("is_out",
        abs(col("d2") * 2 - col("m2")) * 2 > lit(k.toLong) * col("mad4"))
      .groupBy(col("lbl").as(labelCol), col("n"), col("m2"), col("mad4"))
      .agg(sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col(labelCol), col("n"), col("m2"), col("mad4"),
        col("n_outliers"))
  }

  /** Sequential-fold dot product via higher-order functions — the
    * checked reference definition. The DataFrame-level operators below
    * use the codegen'd [[graft.functions.DotProduct]] instead; both fold
    * left-to-right, so results are identical.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product ([[graft.functions.DotProduct]]). */
  def fastDot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  /** Fused single-pass cosine ([[graft.functions.CosineSimilarity]]) —
    * bit-identical to `dot(a,b)/(√dot(a,a)·√dot(b,b))` but one array
    * traversal instead of three on the ANN hot path.
    */
  private def fastCosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSim(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k by cosine against one query vector.
    * `queryDf` must be a single row `(qvec array<double>)`. Ordering uses
    * the 4-d.p.-rounded score with id tiebreak so ranking is reproducible.
    */
  def bruteForceTopK(vectors: DataFrame, queryDf: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    vectors
      .crossJoin(broadcast(queryDf))
      .select(col(idCol), round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch top-k: one ranked scan answers a whole batch of query vectors
    * (`queries`: (q_id, qvec array<double>), small + broadcast) — Q
    * queries cost ONE pass over the vector table plus a per-query-group
    * window, not Q scans. Ordering uses the 4-d.p.-rounded score with id
    * tiebreak, as [[bruteForceTopK]].
    */
  def bruteForceTopKBatch(vectors: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col(idCol))
    vectors.crossJoin(broadcast(queries))
      .select(col("q_id"), col(idCol),
        round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** Diversity-capped batch retrieval: exact top-k by cosine but with
    * at most `perCluster` results from any one centroid bucket — the
    * bucket-capped, one-pass cousin of the greedy MMR re-ranker (MMR's
    * select-then-rescore loop is inherently sequential in k; capping
    * per semantic region gets the same "k DISTINCT neighborhoods"
    * outcome as pure windows). A query whose neighborhood is one dense
    * near-dup cluster still comes back with k distinct regions.
    *
    * Assignment reuses [[assignToCentroids]] (exact cosine argmax, cid
    * tiebreak); ranking uses the 4-d.p.-rounded score with id tiebreak
    * (the [[bruteForceTopKBatch]] contract). Both windows are
    * `row_number ≤ const` shapes, so WindowGroupLimit prunes each
    * (q, cluster) group map-side to `perCluster` rows and each query
    * to `k` before any exchange (the q208 discipline) — the shuffle
    * carries O(queries × clusters × perCluster), never the corpus.
    */
  def diversifiedTopKBatch(vectors: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, perCluster: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && perCluster >= 1)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id", "centroid_id")
      .orderBy(col("cos_sim").desc, col(idCol))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col(idCol))
    assignToCentroids(vectors, centroids, idCol, vecCol)
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col(idCol), col("centroid_id"),
        round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .withColumn("rn_c", row_number().over(wc))
      .where(col("rn_c") <= perCluster)
      .withColumn("rk", row_number().over(wg).cast("long"))
      .where(col("rk") <= k)
      .drop("rn_c")
  }

  /** Exact max-inner-product top-k (MIPS) with Cauchy–Schwarz norm
    * pruning — recommendation-scoring's retrieval verb, where raw dot
    * (not cosine) ranks and big-norm items dominate. LAW: the result
    * EQUALS the brute-force scan (the oracle is the plain ranked dot),
    * because pruning only ever drops vectors whose upper bound
    * `|q|·|x|` is strictly below an already-found kth score:
    *
    *   1. Corpus vectors carry their exact squared norm (Σ micro², a
    *      BIGINT) and a fixed-width norm BAND (`nsq div 1e12` — ≤ ~20
    *      bands at any corpus size).
    *   2. Phase 1 scores only the top bands covering ≥ max(4k, 256)
    *      vectors (band threshold derived from band counts — a
    *      ≤ 20-row frame) and takes each query's kth-best dot as a
    *      conservative lower bound on its global kth.
    *   3. Phase 2 admits a remaining vector only when
    *      `qnsq·nsq ≥ kth²` (decimal(38) — the squared Cauchy–Schwarz
    *      test, exact) or `kth < 0`; big-norm-first order makes most
    *      of the corpus fail this cheap integer compare before any
    *      64-multiply dot runs.
    *
    * Scores are EXACT micro² integers (|dot| ≤ dims·(2²⁰)² < 2^53 in
    * the double kernel), ranking `(dot DESC, id)` — no float rounding
    * anywhere, so ties are engine-independent.
    */
  def mipsTopKBatch(vectors: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val dec = "decimal(38,0)"
    val bandW = 1000000000000L
    def micro(c: Column) = transform(asDouble(c), x => round(x * 1000000))
    val corpus = vectors.where(col(vecCol).isNotNull)
      .select(col(idCol).as("vid"), micro(col(vecCol)).as("xv"))
      .withColumn("nsq", fastDot(col("xv"), col("xv")).cast("long"))
      .withColumn("band", expr(s"nsq div ${bandW}L"))
    val qs = queries.select(col("q_id"), micro(col("qvec")).as("qv"))
      .withColumn("qnsq", fastDot(col("qv"), col("qv")).cast("long"))
    val initK = math.max(4 * k, 256)
    // band threshold: the largest band value whose top-bands cumulative
    // count reaches initK (all bands if the corpus is smaller)
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val bandT = corpus.groupBy("band").agg(count(lit(1)).as("bn"))
      .withColumn("cum", sum("bn").over(wB))
      .agg(coalesce(max(when(col("cum") >= initK, col("band"))),
        min(col("band"))).as("t0"))
    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("vid"))
    val phase1 = corpus.crossJoin(broadcast(bandT))
      .where(col("band") >= col("t0"))
      .crossJoin(broadcast(qs))
      .select(col("q_id"), col("vid"),
        fastDot(col("xv"), col("qv")).cast("long").as("dot"))
    val kth = phase1.withColumn("rk", row_number().over(wQ))
      .where(col("rk") === k)
      .select(col("q_id").as("q_id_t"), col("dot").as("kth"))
    // queries with < k phase-1 rows have no kth row -> no pruning (left join)
    val phase2 = corpus.crossJoin(broadcast(bandT))
      .where(col("band") < col("t0"))
      .crossJoin(broadcast(qs.join(kth, col("q_id") === col("q_id_t"),
        "left").drop("q_id_t")))
      .where(col("kth").isNull || col("kth") < 0 ||
        col("qnsq").cast(dec) * col("nsq").cast(dec) >=
          col("kth").cast(dec) * col("kth").cast(dec))
      .select(col("q_id"), col("vid"),
        fastDot(col("xv"), col("qv")).cast("long").as("dot"))
    phase1.unionByName(phase2)
      .withColumn("rk", row_number().over(wQ).cast("long"))
      .where(col("rk") <= k)
      .select(col("q_id"), col("vid").as(idCol), col("dot").as("dot_micro2"),
        col("rk"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * `k` most-similar corpus vectors carrying a DIFFERENT label — the
    * negatives that actually move a contrastive loss (easy negatives are
    * already far). Same shape as [[bruteForceTopKBatch]] (anchor batch
    * broadcast against one corpus scan, 4-d.p.-rounded cosine with id
    * tiebreak before the rank) plus the label-difference predicate; the
    * at-scale swap is the IVF probe (q43/q60) feeding the same filter —
    * mining is approximate by nature, so index recall is acceptable
    * where the q24 oracle baseline is not.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(col("cos_sim").desc, col(idCol))
    corpus.crossJoin(broadcast(anchors))
      .where(col(labelCol) =!= col("a_label") && col(idCol) =!= col("a_id"))
      .select(col("a_id"), col(idCol), col(labelCol),
        round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** NN-descent k-nearest-neighbor GRAPH construction (Dong et al.,
    * WWW'11) — the build step for graph-based ANN indexes (HNSW/NSG
    * layer-0) and diffusion/label-smoothing pipelines, where the
    * product is the whole kNN graph, not one query's top-k. The
    * principle: a neighbor of a neighbor is likely a neighbor — start
    * from an arbitrary graph and iteratively re-rank each node's
    * neighborhood from its 2-hop candidates; empirically converges to
    * near-exact kNN in a few rounds at O(rounds · n · k²) scored pairs,
    * vs the brute-force n² — the gap that makes billion-row kNN graphs
    * buildable at all.
    *
    * Everything is engine-replayable:
    *   - init neighbors are fixed modular offsets over the dense
    *     row-number index (deterministic, id-ordered);
    *   - scores are EXACT integer micro² squared-L2 distances
    *     (`nsq_a + nsq_b − 2·dot` over once-rounded micro vectors —
    *     every partial < 2⁵³, so the codegen'd double kernel is exact);
    *   - each round's keep is `row_number ≤ k` by (dsq asc, nbr asc)
    *     ⇒ ties engine-independent AND WindowGroupLimit prunes each
    *     node's candidate list map-side before the exchange.
    *
    * Per round: candidate pairs = the undirected neighborhood joined
    * with itself on the shared middle node (both directions — the
    * "general neighbors" of the paper), unioned with the incumbent
    * state so a kept neighbor can never be lost to a worse candidate.
    * Cost per round is one self-join on the middle-node key (fan-out
    * ≤ (2k)² per node) + two id-joins to fetch vectors + one capped
    * window — all k-bounded, nothing quadratic in n. The driver only
    * sequences rounds (a design-time constant).
    *
    * The global row_number for the init index is a one-off O(n) sort of
    * (id) pairs — at corpus scale, replace with a dense id map or seed
    * from LSH buckets instead; everything after the init is unchanged.
    */
  def nnDescent(emb: DataFrame, k: Int = 4, rounds: Int = 2,
      initOffsets: Seq[Int] = Seq(1, 7, 31, 101),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && rounds >= 0, s"need k > 0, rounds >= 0; got $k, $rounds")
    require(initOffsets.nonEmpty, "need at least one init offset")
    val m = emb.select(col(idCol).cast("long").as("id"),
        transform(asDouble(col(vecCol)), x => round(x * 1000000)).as("m"))
      .withColumn("nsq", fastDot(col("m"), col("m")))
      .localCheckpoint() // the micro vectors feed every round twice
    val n = m.count() // bounded scalar: |V| (a design-time quantity)
    val idx = m.select(col("id"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("id")) - 1).as("x"))
    val offs = initOffsets.map(o => lit(o.toLong))
    val initPairs = idx.select(col("id").as("src"), col("x"))
      .select(col("src"), explode(array(offs: _*)).as("o"), col("x"))
      .withColumn("nx", (col("x") + col("o")) % lit(n))
      .join(idx.select(col("id").as("nbr"), col("x").as("nx")), "nx")
      .where(col("nbr") =!= col("src"))
      .select(col("src"), col("nbr"))
      .distinct() // offsets can collide mod n when n ≤ max(offset)
    def score(cand: DataFrame): DataFrame =
      cand.join(m.select(col("id").as("src"), col("m").as("ma"),
          col("nsq").as("na")), "src")
        .join(m.select(col("id").as("nbr"), col("m").as("mb"),
          col("nsq").as("nb")), "nbr")
        .select(col("src"), col("nbr"),
          (col("na") + col("nb") - lit(2.0) * fastDot(col("ma"), col("mb")))
            .cast("long").as("dsq"))
    def keepK(scored: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("dsq"), col("nbr"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= k)
    }
    var state = keepK(score(initPairs)).localCheckpoint()
    for (_ <- 0 until rounds) {
      val und = state.select(col("src"), col("nbr"))
        .unionByName(state.select(col("nbr").as("src"), col("src").as("nbr")))
        .distinct()
      val cand = und.as("x")
        .join(und.select(col("src").as("mid"), col("nbr").as("cnd")).as("y"),
          col("x.nbr") === col("y.mid"))
        .where(col("y.cnd") =!= col("x.src"))
        .select(col("x.src").as("src"), col("y.cnd").as("nbr"))
        .unionByName(state.select(col("src"), col("nbr")))
        .distinct()
      state = keepK(score(cand)).localCheckpoint()
    }
    state.select(col("src"), col("nbr"), col("dsq").as("l2sq_micro2"),
      col("rk"))
  }

  /** IVF index fsck — the integrity audit completing the index
    * lifecycle (build → append → rebalance → delete → compact →
    * **verify**): three checks over the on-disk index, each one row
    * `(check_name, n_checked, n_bad, ok)`:
    *
    *   - `unique_ids`: every id appears once — `n_bad` counts every
    *     row of a duplicated id (all copies are unpublishable).
    *   - `placement`: every row lives in the partition its vector
    *     argmax-assigns to under `centroids` (same cosine/cid-tiebreak
    *     rule as [[assignToCentroids]]) — a misplaced row is invisible
    *     to pruned probes, the silent-recall-loss failure.
    *   - `sidecar`: the (id → centroid) sidecar agrees with the actual
    *     partition set per id — counts stale/missing/mismatched pairs
    *     on a full outer join (a wrong sidecar corrupts the NEXT
    *     append/delete even while probes still work).
    *
    * Byte-identical copies collapse to a multiplicity count before the
    * centroid cross, so the fsck costs one index scan + a bounded
    * centroid cross — the same cost class as the build's assignment.
    */
  def ivfIndexFsck(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val idx = spark.read.parquet(path)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        col("centroid_id").cast("long").as("dir"))
    val grouped = idx.groupBy("id", "dir", "v").agg(count(lit(1)).as("cnt"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "dir", "v").orderBy(col("c").desc, col("cid"))
    val best = grouped.crossJoin(broadcast(centroids))
      .select(col("id"), col("dir"), col("v"), col("cnt"), col("cid"),
        fastCosine(asDouble(col("v")), col("cvec")).as("c"))
      .withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("id"), col("dir"), col("cnt"),
        col("cid").as("best_cid"))
    def row(name: String, df: DataFrame) = df
      .select(lit(name).as("check_name"), col("n_checked"), col("n_bad"),
        (col("n_bad") === 0).as("ok"))
    val uniq = row("unique_ids",
      grouped.groupBy("id").agg(sum("cnt").as("idCnt"))
        .agg(coalesce(sum("idCnt"), lit(0L)).as("n_checked"),
          coalesce(sum(when(col("idCnt") > 1, col("idCnt"))
            .otherwise(0L)), lit(0L)).as("n_bad")))
    val placed = row("placement",
      best.agg(coalesce(sum("cnt"), lit(0L)).as("n_checked"),
        coalesce(sum(when(col("dir") =!= col("best_cid"), col("cnt"))
          .otherwise(0L)), lit(0L)).as("n_bad")))
    val side = sidecarLatest(spark, path,
      spark.read.parquet(path).schema, idCol, None)
      .select(col(idCol).as("id"), col("centroid_id").as("sc"))
    val pairs = grouped.select("id", "dir").distinct()
      .join(side, Seq("id"), "full_outer")
    val sideChk = row("sidecar",
      pairs.agg(count(lit(1)).as("n_checked"),
        coalesce(sum(when(col("dir").isNull || col("sc").isNull ||
          col("dir") =!= col("sc"), 1L).otherwise(0L)), lit(0L))
          .as("n_bad")))
    uniq.unionByName(placed).unionByName(sideChk)
  }

  /** Assign each vector to its nearest centroid (max cosine, centroid-id
    * tiebreak). `centroids`: (cid, cvec array<double>), small + broadcast.
    *
    * ZERO-SHUFFLE shape (optimization round 15): the centroid table is
    * collapsed into one cid-sorted array row, broadcast, and each vector
    * computes its argmax as a pure per-row fold — no exchange, no sort.
    * The previous shape (crossJoin + `row_number() over (partition by id
    * order by c desc, cid)` + `rn = 1`) shuffled and sorted n·k rows each
    * CARRYING THE FULL EMBEDDING PAYLOAD — at 100 TB the assignment
    * shuffle was the build's dominant cost for work that never needed to
    * leave the scan task. Semantics are pinned identical: the fold walks
    * centroids in ascending-cid order and replaces only on STRICTLY
    * greater cosine, so ties keep the lowest cid (= the old
    * `orderBy(c desc, cid)` winner), Spark's `>` treats NaN as greater
    * than everything (= the old descending-sort placement), and an empty
    * centroid table still yields zero rows (the old crossJoin behavior).
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one array row of (cid, cvec) structs, cid-ascending (cid is unique,
    // so the struct sort is a cid sort); bounded by index design, exactly
    // like the broadcast of the centroid table it replaces
    val carr = centroids.agg(
      array_sort(collect_list(struct(col("cid"), col("cvec")))).as("_cents"))
    val best = aggregate(col("_cents"),
      struct(lit(Double.NegativeInfinity).as("c"), lit(0L).as("cid"),
        lit(false).as("set")),
      (acc, cent) => {
        val c = fastCosine(asDouble(col(vecCol)), cent.getField("cvec"))
        when(not(acc.getField("set")) || c > acc.getField("c"),
          struct(c.as("c"), cent.getField("cid").as("cid"),
            lit(true).as("set")))
          .otherwise(acc)
      },
      acc => acc.getField("cid"))
    vectors.crossJoin(broadcast(carr))
      .where(size(col("_cents")) > 0)
      .select(col(idCol), col(vecCol), best.as("centroid_id"))
  }

  /** Lloyd refinement of IVF centroids: `iters` rounds of assign →
    * per-centroid elementwise mean. Each round is two shuffles (the
    * dimension-explode aggregate, then the per-centroid array rebuild),
    * `localCheckpoint` cuts the growing lineage per round (the standard
    * iterative-algorithm discipline), and a centroid that loses every
    * member keeps its previous position instead of vanishing — the
    * index's bucket count is a design constant. Assignment is by cosine,
    * so the mean's DIRECTION is what matters; no re-normalization needed.
    *
    * Deliberately NOT oracle-checked: floating-point summation order in
    * `avg` differs between engines and across partitionings, so the
    * refined centroids are only reproducible to rounding — CentroidSpec
    * verifies the semantics that matter instead (planted clusters
    * recovered, mean member-to-centroid similarity non-decreasing).
    */
  def refineCentroids(vectors: DataFrame, initial: DataFrame, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    var cents = initial.select(col("cid"), col("cvec"))
    for (_ <- 1 to iters) {
      val means = assignToCentroids(vectors, cents, idCol, vecCol)
        .select(col("centroid_id").as("cid"),
          posexplode(asDouble(col(vecCol))))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("new_cvec"))
      cents = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("new_cvec"), col("cvec")).as("cvec"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Integer-pinned Lloyd k-means over an embedding column — the
    * oracle-checkable clustering primitive [[refineCentroids]] cannot
    * be (float means are summation-order-sensitive across engines;
    * see its scaladoc). Every number here is an exact integer:
    * coordinates quantize ONCE to micro units (round ×10⁶, the
    * [[meanPoolEmbeddings]] discipline), centroids are truncating
    * integer means (`sum div count` per dimension), distances are
    * exact BIGINT squared-L2, and ties break on centroid id — so any
    * engine replays the identical trajectory and the cluster SIZES
    * (integers no rounding can forgive) sit under the hash gate.
    *
    * Protocol: seeds are the `k` smallest ids' vectors; `iters`
    * assign→update rounds; a cluster that loses every member keeps
    * its previous centroid (the [[refineCentroids]] rule — bucket
    * count is a design constant). Returns one row per cluster:
    * `(cid, n_members, mean_dist)` from the LAST assignment, with
    * `mean_dist` the truncating per-member mean squared distance
    * (null for an empty cluster, never a fake 0).
    *
    * Scale: the quantized (id, dim, micro) frame localCheckpoints once
    * and serves every round; each round is one broadcast join against
    * the k·dims centroid table (data×k intermediate — k is a design
    * constant), one map-side-combinable (id, cid) fold, one argmin
    * window partitioned BY id (never a global sort), and a k·dims
    * centroid rebuild. Nothing data-sized is collected or re-sorted.
    */
  def kmeansInteger(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val (seeds, _, _, lastAssign) = kmeansCore(emb, idCol, vecCol, k, iters)
    val stats = lastAssign.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        expr("cast(sum(cast(d as decimal(38,0))) div count(1) as long)")
          .as("mean_dist"))
    seeds.select("cid").join(stats, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("mean_dist"))
  }

  /** The integer-pinned Lloyd loop [[kmeansInteger]] and
    * [[kmeansSilhouette]] share: quantize once, seed from the k
    * smallest ids, `iters` assign→update rounds with truncating-mean
    * centroid updates and empty-cluster carry. Returns
    * (seeds, quantized points, the centroid table the LAST assignment
    * used, that last assignment) — every frame either bounded (seeds,
    * centroids: k·dims rows) or checkpointed (points).
    */
  private def kmeansCore(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(k >= 1 && k <= 256, s"k out of range: $k")
    require(iters >= 1 && iters <= 16, s"iters out of range: $iters")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("d"), col("cid"))
    val pts = emb
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim", "x")))
      .select(col("id"), col("dim"),
        round(col("x") * 1000000).cast("long").as("xm"))
      .localCheckpoint() // every round re-joins the quantized frame
    val seeds = pts.select("id").distinct().orderBy("id").limit(k)
      .select(col("id"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("id")) - 1).cast("long").as("cid")) // k rows: driver-bounded
    var cents = pts.join(broadcast(seeds), "id")
      .select(col("cid"), col("dim"), col("xm").as("cm"))
      .localCheckpoint(true)
    var lastAssign: DataFrame = null
    for (r <- 1 to iters) {
      val assign = pts.join(broadcast(cents), "dim")
        .groupBy("id", "cid")
        .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm"))).as("d"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"), col("cid"), col("d"))
      lastAssign = assign
      if (r < iters) { // the last round's update would never be read
        val means = assign.join(pts, "id")
          .groupBy("cid", "dim")
          .agg(expr("sum(xm) div count(1)").as("cm2"))
        // each round's centroid table checkpoints EAGERLY (k·dims rows),
        // so per-round lineage never stacks — the iterative discipline
        cents = cents.join(means, Seq("cid", "dim"), "left")
          .select(col("cid"), col("dim"),
            coalesce(col("cm2"), col("cm")).as("cm"))
          .localCheckpoint(true)
      }
    }
    (seeds, pts, cents, lastAssign)
  }

  /** Clustering-quality verdict over [[kmeansInteger]]'s OWN final
    * state — simplified (centroid-based) silhouette: per point,
    * a = squared distance to its assigned centroid, b = the smallest
    * squared distance to any OTHER centroid, s = (b − a)/max(a, b) in
    * truncating milli (well-clustered ≈ +1000, boundary ≈ 0, likely
    * mis-assigned < 0). The classic point-pairwise silhouette is
    * O(n²·d); the centroid form is the one that exists at corpus
    * scale: ONE broadcast of the k·dims centroid table against the
    * quantized points, per-point k-row argmin/agg, then a
    * cluster-keyed rollup — no pair join anywhere. All distances are
    * the kmeans loop's own exact BIGINTs; the milli ratio and the
    * per-cluster mean are truncating divisions (identical on both
    * engines — trunc-toward-zero either side of 0). Degenerate
    * max(a,b) = 0 (point sitting ON two coincident centroids) emits a
    * null s rather than a fabricated 0. Clusters that end the run
    * empty stay in the ledger as (0, null…) rows.
    */
  def kmeansSilhouette(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2, got $k")
    val (seeds, pts, cents, lastAssign) =
      kmeansCore(emb, idCol, vecCol, k, iters)
    val dists = pts.join(broadcast(cents), "dim")
      .groupBy("id", "cid")
      .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm"))).as("d"))
      .localCheckpoint() // roles: own-centroid pick + other-centroid min
    val own = lastAssign // rn=1 under (d, cid) — the loop's own tiebreak
      .select(col("id"), col("cid").as("own_cid"), col("d").as("a"))
    val other = dists.join(own, "id")
      .where(col("cid") =!= col("own_cid"))
      .groupBy("id").agg(min("d").as("b"))
    // left join: with < 2 live centroids (input had < 2 distinct ids —
    // the k ≥ 2 require bounds the PARAMETER, not the data) `other` is
    // empty; members must survive with null b/s, not vanish from the
    // n_members count
    val s = own.join(other, Seq("id"), "left")
      .select(col("id"), col("own_cid").as("cid"), col("a"), col("b"),
        when(greatest(col("a"), col("b")) > 0,
          expr("((b - a) * 1000) div greatest(a, b)")).as("s_milli"))
    val stats = s.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        count(col("s_milli")).as("n_scored"),
        expr("case when count(s_milli) > 0 then" +
          " sum(s_milli) div count(s_milli) end").as("mean_s_milli"),
        min("s_milli").as("min_s_milli"),
        max("s_milli").as("max_s_milli"))
    seeds.select("cid").join(stats, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("mean_s_milli"), col("min_s_milli"), col("max_s_milli"))
  }

  /** Build the materialized IVF index: assign every vector to its nearest
    * centroid once and write the table partitioned by `centroid_id`. This
    * is the one-time ingest cost that turns every later search into a
    * partition-pruned scan — without it, each query re-assigns the whole
    * corpus (an index that is really a full scan). At 100 TB the write is
    * a single broadcast join + narrow projection; partition count equals
    * centroid count, chosen so each bucket is a few hundred MB.
    */
  def buildIvfIndex(vectors: DataFrame, centroids: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeIndexBase(assignToCentroids(vectors, centroids, idCol, vecCol),
      path, idCol)

  /** [[buildIvfIndex]]'s write tail, factored so [[foldIvfPending]]'s
    * first-fold path can found an index from already-assigned rows:
    * the partitioned base write plus the sidecar base derived from the
    * WRITTEN index (a column-pruned id scan — one-time at build, which
    * is O(data) anyway) rather than a second evaluation of the
    * assignment join over the input.
    */
  private def writeIndexBase(assigned: DataFrame, path: String,
      idCol: String): Unit = {
    assigned.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    val spark = assigned.sparkSession
    writeSidecar(
      spark.read.schema(assigned.schema).parquet(path)
        .select(col(idCol), col("centroid_id")),
      path, idCol, dynamic = false)
  }

  /** Ingest staging buffer for high-frequency micro-batch ingestion
    * (round-16, the [[graft.streaming.StreamingIvf]] hot path): each
    * micro-batch is assigned to its (frozen) centroids and parked as ONE
    * flat parquet directory `<path>.pending/b=<batchSeq>` — a single
    * small write, no partitioned-table commit, no sidecar lookup, no
    * index read — and [[foldIvfPending]] later applies the whole buffer
    * through ONE index rewrite. The per-batch upsert path paid the full
    * maintenance protocol (sidecar bucket scan + affected-partition read
    * + dynamic overwrite across every touched directory + delta append)
    * per micro-batch; with staging that protocol cost amortizes over
    * the buffer (measured on q183's 4-batch harness: jobs per ingest
    * batch cut from ~8 to 2).
    *
    * Idempotence under replay: the directory is KEYED BY `batchSeq`
    * (Structured Streaming's `batchId`) and written with overwrite — a
    * crashed-and-replayed batch rewrites its own directory with
    * identical content, never duplicates it. Cross-batch re-ingests of
    * the same id resolve at fold time by max-`batchSeq` latest-wins,
    * matching the ordered per-batch upsert semantics.
    */
  def stageIvfPendingBatch(batch: DataFrame, centroids: DataFrame,
      path: String, batchSeq: Long, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    assignToCentroids(batch, centroids, idCol, vecCol)
      .select(Seq(idCol, vecCol, "centroid_id").map(col): _*)
      .coalesce(1) // micro-batch-sized: one flat file, one commit
      .write.mode("overwrite").parquet(s"${pendingPath(path)}/b=$batchSeq")

  /** Apply every staged [[stageIvfPendingBatch]] directory to the index
    * in ONE maintenance pass and clear the buffer. Per id the max-`b`
    * batch wins (within a batch, duplicate-id rows are kept exactly as
    * the per-batch upsert kept them); the resolved rows then flow
    * through the standard machinery — [[buildIvfIndex]]'s base write
    * when no index exists yet ("founded at first fold"), the
    * [[upsertCentroidPartitionedIndex]] contract otherwise (touched
    * partitions only, cross-centroid drift, emptied dirs, sidecar).
    *
    * Crash contract (extends the upsert's): the folded batches, and only
    * they, are deleted ONLY after the fold's index/sidecar writes commit
    * (a batch staged meanwhile waits for the next fold). A crash anywhere
    * before that leaves the buffer intact and the re-run folds
    * value-identical rows (the upsert path is idempotent by its own
    * contract; the build path re-runs under an index that now exists
    * and upserts the same rows). Readers see staged batches only after
    * a fold — the ingest driver bounds that staleness by folding on its
    * schedule (StreamingIvf folds at stream stop; a long-lived deploy
    * folds every N batches) or by calling this before a
    * freshness-critical search.
    */
  def foldIvfPending(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "vec_id"): Unit = {
    val pp = new org.apache.hadoop.fs.Path(pendingPath(path))
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pp)) return
    val batchDirs = fs.listStatus(pp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b="))
    if (batchDirs.nonEmpty) {
      val pending = spark.read.option("basePath", pendingPath(path))
        .parquet(batchDirs.map(_.getPath.toString): _*)
      val dataCols = pending.columns.filterNot(_ == "b").toSeq
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      val winners = pending
        .withColumn("_mb", max(col("b")).over(w))
        .where(col("b") === col("_mb"))
        .select(dataCols.map(col): _*)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
        writeIndexBase(winners, path, idCol)
      else
        upsertCentroidPartitionedIndex(winners, path, idCol)
    }
    for (d <- batchDirs if !fs.delete(d.getPath, true))
      throw new java.io.IOException(
        s"foldIvfPending: failed to clear folded staging batch ${d.getPath} — " +
        "a stale batch would re-apply (harmlessly) but grow unbounded")
    // non-recursive: refused when such a batch arrives after the listStatus
    if (fs.listStatus(pp).isEmpty) try fs.delete(pp, false) catch { case _: java.io.IOException => }
  }

  private def pendingPath(path: String): String = s"$path.pending"

  /** Index maintenance: REBALANCE a drifted IVF index. Incremental
    * appends keep centroids frozen (the drift-safe contract), so after
    * enough distribution shift the buckets skew — hot buckets slow
    * every probe that touches them and starve pruning. Rebalance is
    * the offline compaction pass: Lloyd-refine the centroids over the
    * CURRENT index contents, reassign, rewrite, and persist the
    * refined centroids next to the index (`<path>.centroids`) so
    * probes and future appends pick them up. A compaction is O(index)
    * by definition — same cost class as a parquet compaction, run on
    * the maintenance schedule, never in the ingest path.
    *
    * Returns a 1-row stats frame (moved count, max/mean bucket size
    * before and after) — the number a maintenance job alarms on.
    */
  def rebalanceIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, centroids: DataFrame, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val index = spark.read.parquet(path).localCheckpoint(true)
    def bucketStats(df: DataFrame): (Long, Double) = {
      val r = df.groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")), avg(col("n"))).collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    val (maxBefore, meanBefore) = bucketStats(index)
    val data = index.select(col(idCol), col(vecCol))
    var refined = refineCentroids(data, centroids, iters, idCol, vecCol)
      .localCheckpoint(true)
    var reassigned = assignToCentroids(data, refined, idCol, vecCol)
      .localCheckpoint(true)
    // Empty-centroid re-seeding (the step plain Lloyd cannot do): a
    // drifted start can leave centroid A owning two true clusters while
    // centroid B owns nothing — refinement then converges with B stuck
    // empty and A's bucket permanently hot. Re-seed each empty centroid
    // at the member FARTHEST from its current owner (deterministic:
    // max distance, then min id; the collect is bounded by the number
    // of empty centroids, a design constant) and re-refine.
    var round = 0
    var done = false
    while (round < 3 && !done) {
      val owned = reassigned.select(col("centroid_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val empty = refined.select(col("cid")).collect()
        .map(_.getLong(0)).filterNot(owned)
      if (empty.isEmpty) done = true
      else {
        val seeds = reassigned.as("a")
          .join(refined.as("c"), col("a.centroid_id") === col("c.cid"))
          .select(col(idCol), asDouble(col(vecCol)).as("v"),
            (lit(1.0) - fastDot(asDouble(col(vecCol)), col("cvec")) /
              (norm(asDouble(col(vecCol))) * norm(col("cvec")))).as("d"))
          .orderBy(col("d").desc, col(idCol))
          .limit(empty.length).collect()
          .map(_.getSeq[Double](1))
        import spark.implicits._
        val replacements = empty.zip(seeds).toSeq.toDF("cid", "cvec")
        refined = refineCentroids(data,
          refined.join(replacements.select(col("cid")), Seq("cid"), "left_anti")
            .unionByName(replacements),
          iters = 2, idCol, vecCol).localCheckpoint(true)
        reassigned = assignToCentroids(data, refined, idCol, vecCol)
          .localCheckpoint(true)
      }
      round += 1
    }
    val moved = reassigned.as("n")
      .join(index.select(col(idCol), col("centroid_id").as("_old")), idCol)
      .where(col("centroid_id") =!= col("_old")).count()
    reassigned.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    val written = spark.read.schema(reassigned.schema).parquet(path)
    writeSidecar(written.select(col(idCol), col("centroid_id")),
      path, idCol, dynamic = false)
    refined.write.mode("overwrite").parquet(centroidsPath(path))
    val (maxAfter, meanAfter) = bucketStats(written)
    import spark.implicits._
    Seq((moved, maxBefore, meanBefore, maxAfter, meanAfter))
      .toDF("moved", "max_bucket_before", "mean_bucket_before",
        "max_bucket_after", "mean_bucket_after")
  }

  /** Refined centroids persisted by [[rebalanceIvfIndex]]. */
  def centroidsPath(path: String): String = s"$path.centroids"

  /** id→centroid sidecar: one (id, centroid_id) row per indexed vector.
    * [[appendToIvfIndex]] consults it to find a batch's previous homes —
    * pruned to the batch ids' hash buckets, so the lookup reads
    * O(batch-fraction of ids), not the whole index's id column (which is
    * O(index) per ingest batch no matter how column-pruned). Layout is
    * LSM-shaped — bucketed base + flat append-only delta log + periodic
    * compaction (see [[sidecarLatest]]) — so the ingest hot path pays one
    * flat file append, never a per-bucket-directory commit.
    */
  private def sidecarPath(path: String): String = s"$path.ids"
  private def sidecarDeltaPath(path: String): String = s"$path.ids.delta"
  // 32, not more: Spark's parallel partition discovery kicks in above 32
  // directories, turning every sidecar open into a cluster LISTING JOB —
  // at 32 the discovery stays driver-side (one RPC burst, no job)
  private val sidecarBuckets = 32
  // delta files tolerated before the log is folded into the bucketed base
  // — compaction is O(ids), so it must amortize over many cheap appends
  private val sidecarCompactAfter = 32
  private def sidecarBucket(id: Column): Column =
    pmod(hash(id), lit(sidecarBuckets))

  private def writeSidecar(rows: DataFrame, path: String, idCol: String,
      dynamic: Boolean): Unit = {
    // cluster on the partition column before the partitioned write: one
    // task owns each bucket dir, so the commit is 64 files, not 64 dirs ×
    // (#input partitions) tiny files — file-commit overhead, not row
    // volume, is what dominates a small ingest batch
    val out = rows.select(col(idCol), col("centroid_id"),
      sidecarBucket(col(idCol)).as("id_bucket"))
      .repartition(col("id_bucket"))
    if (dynamic) withDynamicOverwrite(rows.sparkSession) {
      out.write.mode("overwrite").partitionBy("id_bucket")
        .parquet(sidecarPath(path))
    } else
      out.write.mode("overwrite").partitionBy("id_bucket")
        .parquet(sidecarPath(path))
    // a base write is always FULL state (build, rebalance, compaction),
    // so any surviving delta log is stale — and stale deltas would
    // outrank the fresh base under latest-wins. Clear it afterwards; a
    // crash in between leaves deltas whose entries the base already
    // reflects only in the compaction case (value-identical), while
    // build/rebalance callers write under a fresh or fully-rewritten
    // index where the re-run repeats this same sequence.
    val dp = new org.apache.hadoop.fs.Path(sidecarDeltaPath(path))
    val fs = dp.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(dp) && !fs.delete(dp, true))
      throw new java.io.IOException(
        s"sidecar base rewrite: failed to clear stale delta log $dp")
  }

  private def withDynamicOverwrite[A](spark: org.apache.spark.sql.SparkSession)
      (body: => A): A = {
    val conf = spark.conf
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = conf.getOption(key)
    conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  /** Incrementally maintain a [[buildIvfIndex]] table: assign `newVectors`
    * to the SAME centroids (an index's centroids are fixed between
    * rebuilds — reassigning old vectors would invalidate every bucket)
    * and rewrite ONLY the affected centroid partitions via dynamic
    * partition overwrite, merging with the rows already there. Same-id
    * rows are replaced (upsert), so re-ingesting a batch is idempotent —
    * INCLUDING a batch whose embeddings changed: an id that drifted to a
    * different centroid has its stale row removed from its old bucket,
    * not just a fresh row added to the new one.
    *
    * Why not a full rebuild: a 100 TB index cannot be rewritten per
    * ingest batch. Cost here is (1) one broadcast join over the batch,
    * (2) an id→centroid lookup against the SIDECAR table to find the
    * batch ids' previous homes — pruned to the batch ids' hash buckets,
    * so it reads O(batch-fraction of ids), never the whole index (an
    * index without the sidecar falls back to one full column-pruned id
    * scan and writes the sidecar, so the cost is paid once, not per
    * batch), and (3) a read+rewrite of the affected buckets only;
    * unaffected partitions' data files are never read or replaced (every
    * read passes an explicit schema, so not even a footer is opened for
    * inference). The affected bucket ids are collected driver-side
    * deliberately — bounded by centroid count (index design, not data
    * size), and the literal `isin` is what reaches the parquet source
    * as `PartitionFilters` for the existing-rows read.
    * `localCheckpoint` materializes those rows first because Spark
    * refuses to overwrite a path its plan still reads; at extreme
    * bucket sizes a staging-table write serves the same purpose. A
    * bucket emptied by the move (its only rows were the migrated ids)
    * never appears in the written frame, so dynamic overwrite would
    * leave its stale files — those directories are deleted explicitly,
    * and a delete that reports failure throws (a silently-surviving
    * stale directory means duplicate rows with no error).
    *
    * Crash contract: the index partitions, the emptied-directory
    * deletes, and the sidecar delta append commit in that order, not
    * atomically. A crash in between leaves the emptied dirs or the
    * sidecar one batch stale — RE-RUNNING THE INTERRUPTED BATCH repairs
    * both, because until the delta append lands the sidecar still names
    * those ids' pre-batch homes, so the re-run unions them back into
    * `affected`, re-removes replaced rows, and re-derives the emptied
    * set; a re-run AFTER the append landed adds a value-identical delta
    * that latest-wins resolves to the same homes (idempotent). The
    * standard at-least-once ingest discipline (retry the failed batch
    * before admitting the next one) is therefore exactly what this
    * maintenance step needs.
    */
  def appendToIvfIndex(newVectors: DataFrame, centroids: DataFrame,
      path: String, idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val assigned = assignToCentroids(newVectors, centroids, idCol, vecCol)
      .select(Seq(idCol, vecCol, "centroid_id").map(col): _*)
    upsertCentroidPartitionedIndex(assigned, path, idCol)
  }

  /** Payload-agnostic core of the drift-safe incremental index upsert:
    * `assigned` is the new batch as (idCol, …payload…, centroid_id) —
    * the embedding column for the plain IVF index, the PQ codes column
    * for the IVF+PQ index ([[Pq.appendToIvfPqIndex]]); everything the
    * contract above promises (touched-partitions-only rewrite, same-id
    * upsert INCLUDING cross-centroid drift, emptied-directory deletion,
    * sidecar maintenance, crash repair by re-run) is payload-independent
    * and lives here.
    */
  private[ops] def upsertCentroidPartitionedIndex(assignedIn: DataFrame,
      path: String, idCol: String): Unit = {
    val spark = assignedIn.sparkSession
    val cols = assignedIn.columns.toSeq
    require(cols.last == "centroid_id" && cols.head == idCol,
      s"assigned frame must be ($idCol, ...payload..., centroid_id), got $cols")
    // both bounded sets (touched centroids + batch id-buckets) ride the
    // checkpoint's own job as observe metrics — ZERO extra jobs, where
    // the previous shape paid one collect job after the checkpoint
    // (round-15 job diet; the starForest fingerprint discipline)
    val obs = org.apache.spark.sql.Observation()
    val assigned = assignedIn.observe(obs,
      collect_set(col("centroid_id")).as("t"),
      collect_set(sidecarBucket(col(idCol))).as("b")).localCheckpoint(true)
    val tb = obs.get
    val touched = tb("t").asInstanceOf[Seq[Long]].toSet
    if (touched.nonEmpty) {
      val batchIds = assigned.select(col(idCol))
      val batchBuckets = tb("b").asInstanceOf[Seq[Int]]
      // Previous homes of the batch ids: partitions holding a row that
      // this upsert replaces. The sidecar read is pruned to the batch
      // ids' hash buckets and resolved to latest-wins per id (base +
      // delta log). The batch side is checkpointed and small by
      // construction, so broadcast it explicitly rather than betting on
      // AQE (a miss here would shuffle the bucket scan per append).
      val oldHomes =
        sidecarLatest(spark, path, assigned.schema, idCol, Some(batchBuckets))
          .join(broadcast(batchIds), Seq(idCol), "left_semi")
          .select(col("centroid_id")).distinct()
          .collect().map(_.getLong(0)).toSet
      val affected = (touched ++ oldHomes).toSeq
      val existing = spark.read.schema(assigned.schema).parquet(path)
        .where(col("centroid_id").isin(affected: _*))
        .join(broadcast(batchIds), Seq(idCol), "left_anti")
        .select(cols.map(col): _*)
        .localCheckpoint(true)
      // survivors only matter for the emptied-directory derivation, and
      // only partitions in (oldHomes -- touched) can possibly empty — a
      // pure-insert batch (no id drift, the steady-state ingest shape)
      // skips this job entirely
      val survivors =
        if ((oldHomes -- touched).isEmpty) Set.empty[Long]
        else existing.select(col("centroid_id")).distinct()
          .collect().map(_.getLong(0)).toSet
      withDynamicOverwrite(spark) {
        existing.union(assigned).repartition(col("centroid_id"))
          .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
      }
      // Buckets whose every row migrated away: absent from the written
      // frame, so the dynamic overwrite left their old files in place.
      // Deleted BEFORE the sidecar write: as long as the sidecar still
      // names the pre-batch homes, a re-run re-derives and re-deletes
      // these dirs — deleting after would open a window where the
      // sidecar already points at the new homes and a re-run can no
      // longer find the stale directory.
      val emptied = oldHomes -- touched -- survivors
      if (emptied.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        emptied.foreach { cid =>
          val dir = new org.apache.hadoop.fs.Path(path, s"centroid_id=$cid")
          if (fs.exists(dir) && !fs.delete(dir, true))
            throw new java.io.IOException(
              s"appendToIvfIndex: failed to delete emptied partition $dir — " +
              "its stale rows would duplicate the migrated ids")
        }
      }
      // Sidecar maintenance LAST, as one APPEND to the delta log — a
      // single flat file per batch, no per-directory commit (the
      // bucket-rewrite alternative pays the dynamic-overwrite protocol
      // across every touched bucket dir per ingest batch; measured ~8×
      // the cost of the append at identical row volume). Latest-wins per
      // id resolves the batch's rows over any base/older-delta entry.
      appendSidecarDelta(assigned.select(col(idCol), col("centroid_id")),
        path, idCol)
      maybeCompactSidecar(spark, path, assigned.schema, idCol)
    }
  }

  /** DELETE ids from a [[buildIvfIndex]] table — the maintenance verb
    * completing the index lifecycle (build → append/upsert → rebalance
    * → delete): rewrite ONLY the partitions that actually hold the ids
    * (found through the bucket-pruned sidecar, O(batch fraction) reads,
    * never an index scan), drop emptied directories, and append
    * `centroid_id = −1` TOMBSTONES to the sidecar delta log — under
    * latest-wins a tombstone outranks every older entry and
    * [[sidecarLatest]] filters it out, so future appends treat the id
    * as absent (pure insert) and the next compaction makes the
    * deletion durable in the base. Ids not present in the index are
    * ignored (no tombstone — a foreign-id delete must not pollute the
    * log). Idempotent under re-run at any crash point: the sidecar
    * names the pre-delete homes until the tombstones land, so a re-run
    * re-derives the same (already clean) partitions. Returns the
    * number of ids actually removed.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, path: String, idCol: String = "vec_id"): Long = {
    val del = ids.select(col(idCol)).distinct().localCheckpoint(true)
    val buckets = del.agg(collect_set(sidecarBucket(col(idCol))).as("b"))
      .collect()(0).getSeq[Int](0)
    if (buckets.isEmpty) return 0L
    val indexSchema = spark.read.parquet(path).schema
    val homes =
      sidecarLatest(spark, path, indexSchema, idCol, Some(buckets))
        .join(broadcast(del), Seq(idCol), "left_semi")
        .localCheckpoint(true)
    val affected = homes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val nDeleted = homes.count()
    if (affected.nonEmpty) {
      val existing = spark.read.schema(indexSchema).parquet(path)
        .where(col("centroid_id").isin(affected.toSeq: _*))
        .join(broadcast(del), Seq(idCol), "left_anti")
        .localCheckpoint(true)
      // partition-column type is inference-dependent (int dirs) — cast
      val survivors = existing.select(col("centroid_id").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      if (survivors.nonEmpty) withDynamicOverwrite(spark) {
        existing.repartition(col("centroid_id"))
          .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
      }
      // fully-emptied partitions keep their old files under dynamic
      // overwrite (nothing was written for them) — remove the dirs;
      // deleted BEFORE the tombstones land so a crashed run re-derives
      // them from the still-pre-delete sidecar (the append discipline)
      val emptied = affected -- survivors
      if (emptied.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        emptied.foreach { cid =>
          val dir = new org.apache.hadoop.fs.Path(path, s"centroid_id=$cid")
          if (fs.exists(dir) && !fs.delete(dir, true))
            throw new java.io.IOException(
              s"deleteFromIvfIndex: failed to delete emptied partition $dir")
        }
      }
      appendSidecarDelta(
        homes.select(col(idCol), lit(-1L).as("centroid_id")), path, idCol)
      maybeCompactSidecar(spark, path, indexSchema, idCol)
    }
    nDeleted
  }

  /** The sidecar is LSM-shaped: a hash-bucketed BASE (written at build /
    * compaction, pruned by `id_bucket` dirs on read) plus a flat
    * append-only DELTA LOG (one small file per ingest batch, carrying a
    * monotonically increasing `seq`). An id's current home is its
    * max-`seq` entry (base rows rank below every delta). Appending is a
    * single-file write — no per-directory commit protocol in the ingest
    * hot path; the per-dir cost is paid only at compaction, amortized
    * over [[sidecarCompactAfter]] batches. Delta files are written
    * sorted by `id_bucket`, so row-group stats prune the (bounded) log
    * scan the same way directories prune the base.
    */
  private def sidecarDeltaSchema(indexSchema: org.apache.spark.sql.types.StructType,
      idCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      indexSchema(idCol),
      StructField("centroid_id", LongType),
      StructField("id_bucket", IntegerType),
      StructField("seq", LongType)))
  }

  private def deltaFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val dp = new org.apache.hadoop.fs.Path(sidecarDeltaPath(path))
    val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dp)) Array.empty
    else fs.listStatus(dp).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** One flat file per batch; `seq` = number of existing delta files, so
    * a crashed batch's re-run appends an identical-content file with a
    * higher seq — latest-wins resolves to the same values (idempotent).
    */
  private def appendSidecarDelta(rows: DataFrame, path: String,
      idCol: String): Unit = {
    val spark = rows.sparkSession
    val seq = deltaFiles(spark, path).length.toLong
    rows.select(col(idCol), col("centroid_id"),
        sidecarBucket(col(idCol)).as("id_bucket"), lit(seq).as("seq"))
      .coalesce(1).sortWithinPartitions(col("id_bucket"))
      .write.mode("append").parquet(sidecarDeltaPath(path))
  }

  /** Latest (id, centroid_id) per id across base + delta log, optionally
    * pruned to a set of hash buckets. Creates the base from the index
    * (one column-pruned id scan — a one-time migration cost) when an
    * older build lacks it.
    */
  private def sidecarLatest(spark: org.apache.spark.sql.SparkSession,
      path: String, indexSchema: org.apache.spark.sql.types.StructType,
      idCol: String, buckets: Option[Seq[Int]]): DataFrame = {
    import org.apache.spark.sql.types._
    recoverSidecarSwap(spark, path)
    val sp = new org.apache.hadoop.fs.Path(sidecarPath(path))
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sp))
      writeSidecar(
        spark.read.schema(indexSchema).parquet(path)
          .select(col(idCol), col("centroid_id")),
        path, idCol, dynamic = false)
    val baseSchema = StructType(sidecarDeltaSchema(indexSchema, idCol)
      .filterNot(_.name == "seq"))
    val base = spark.read.schema(baseSchema).parquet(sidecarPath(path))
      .withColumn("seq", lit(-1L))
    val all =
      if (deltaFiles(spark, path).isEmpty) base
      else base.unionByName(
        spark.read.schema(sidecarDeltaSchema(indexSchema, idCol))
          .parquet(sidecarDeltaPath(path)))
    val pruned = buckets.fold(all)(b => all.where(col("id_bucket").isin(b: _*)))
    pruned.groupBy(col(idCol))
      .agg(max_by(col("centroid_id"), col("seq")).as("centroid_id"))
      // DELETE tombstones (centroid_id = -1, written by
      // [[deleteFromIvfIndex]]) must WIN the latest-wins resolution and
      // then disappear: a deleted id has no home, so every consumer —
      // append's previous-homes lookup, delete's own lookup, compaction
      // (which thereby makes the deletion durable in the base) — sees
      // it as absent
      .where(col("centroid_id") >= 0)
  }

  /** Fold the delta log into the bucketed base once it grows past
    * [[sidecarCompactAfter]] files. Crash-safe order: materialize latest
    * → write the new base BESIDE the live one → rename-swap → clear the
    * log. The live base is never deleted before a complete replacement
    * exists, so a crash at ANY point leaves a recoverable state:
    *  - during the tmp write: live base + log untouched (tmp is swept on
    *    the next compaction);
    *  - between the two renames: live base absent but parked at
    *    `.compact-old` — [[recoverSidecarSwap]] renames it back on the
    *    next open;
    *  - after the swap but before the log clear: stale deltas over the
    *    fresh base are value-identical under latest-wins (the fold wrote
    *    exactly their resolution) — harmless.
    */
  private def maybeCompactSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String, indexSchema: org.apache.spark.sql.types.StructType,
      idCol: String): Unit =
    if (deltaFiles(spark, path).length >= sidecarCompactAfter) {
      val latest = sidecarLatest(spark, path, indexSchema, idCol, None)
        .localCheckpoint(true)
      val hconf = spark.sparkContext.hadoopConfiguration
      val live = new org.apache.hadoop.fs.Path(sidecarPath(path))
      val tmp = new org.apache.hadoop.fs.Path(sidecarPath(path) + ".compact-tmp")
      val old = new org.apache.hadoop.fs.Path(sidecarPath(path) + ".compact-old")
      val fs = live.getFileSystem(hconf)
      if (fs.exists(tmp)) fs.delete(tmp, true) // crashed prior attempt
      if (fs.exists(old)) fs.delete(old, true)
      latest.select(col(idCol), col("centroid_id"),
          sidecarBucket(col(idCol)).as("id_bucket"))
        .repartition(col("id_bucket"))
        .write.mode("overwrite").partitionBy("id_bucket")
        .parquet(tmp.toString)
      if (!fs.rename(live, old) || !fs.rename(tmp, live))
        throw new java.io.IOException(
          s"sidecar compaction: rename swap failed for $live")
      val dp = new org.apache.hadoop.fs.Path(sidecarDeltaPath(path))
      if (fs.exists(dp) && !fs.delete(dp, true))
        throw new java.io.IOException(
          s"sidecar compaction: failed to clear folded delta log $dp")
      fs.delete(old, true)
    }

  /** Heal a crash that landed between [[maybeCompactSidecar]]'s two
    * renames: the live base directory is gone but its content is parked
    * at `.compact-old` — rename it back (the delta log was not cleared,
    * so latest-wins state is exactly pre-compaction).
    */
  private def recoverSidecarSwap(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(sidecarPath(path))
    val old = new org.apache.hadoop.fs.Path(sidecarPath(path) + ".compact-old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new java.io.IOException(
        s"sidecar recovery: failed to restore parked base $old")
  }

  /** IVF top-k over a [[buildIvfIndex]] table: rank centroids against the
    * query, then scan ONLY the `nProbe` probed partitions. The probed ids
    * are collected driver-side deliberately — the centroid table is small
    * by construction (its size is an index design parameter, not data
    * size), and literal `isin` values are what reach the parquet source
    * as `PartitionFilters` for static pruning.
    */
  def ivfTopKIndexed(indexPath: String, centroids: DataFrame,
      queryDf: DataFrame, k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = centroids.sparkSession
    val probed = centroids.crossJoin(broadcast(queryDf))
      .select(col("cid"), fastCosine(col("cvec"), col("qvec")).as("c"))
      .orderBy(col("c").desc, col("cid"))
      .limit(nProbe)
      .select(col("cid")).collect().map(_.getLong(0)).toSeq
    spark.read.parquet(indexPath)
      .where(col("centroid_id").isin(probed: _*))
      .crossJoin(broadcast(queryDf))
      .select(col(idCol),
        round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch IVF top-k over a [[buildIvfIndex]] table: the union of every
    * query's probe set prunes ONE scan, then each scanned vector is
    * scored only against the queries that probed its bucket and ranked
    * per query — Q queries cost one partition-pruned pass plus a window,
    * not Q scans re-reading the probed partitions per query (the shape
    * [[bruteForceTopKBatch]] proves for the unindexed path). Per-query
    * results are identical to [[ivfTopKIndexed]]: the (q_id, probe)
    * pairs are ranked with the same (cosine desc, cid) order, and
    * scoring joins restrict each query to its own probed buckets.
    */
  def ivfTopKIndexedBatch(indexPath: String, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = centroids.sparkSession
    import spark.implicits._
    // Q × nProbe pairs, driver-collected like the single-query path —
    // bounded by index design, and the probed-id union must be literals
    // to reach the parquet source as PartitionFilters
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("c").desc, col("cid"))
    val probePairs = centroids.crossJoin(broadcast(queries))
      .select(col("q_id"), col("cid"), fastCosine(col("cvec"), col("qvec")).as("c"))
      .withColumn("rn", row_number().over(wp))
      .where(col("rn") <= nProbe)
      .select(col("q_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val allProbed = probePairs.map(_._2).distinct
    val probeDf = probePairs.toDF("q_id", "probe_cid")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col(idCol))
    spark.read.parquet(indexPath)
      .where(col("centroid_id").isin(allProbed: _*))
      .join(broadcast(probeDf), col("centroid_id") === col("probe_cid"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col(idCol),
        round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(wk).cast("long"))
      .where(col("rk") <= k)
  }

  /** IVF top-k: probe the `nProbe` centroids closest to the query and
    * brute-force only vectors assigned to those buckets. Assignment is
    * recomputed inline — the right shape for one-off searches over frames
    * already in memory; repeated searches should go through
    * [[buildIvfIndex]] + [[ivfTopKIndexed]] instead.
    */
  def ivfTopK(vectors: DataFrame, centroids: DataFrame, queryDf: DataFrame,
      k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = assignToCentroids(vectors, centroids, idCol, vecCol)
    val probed = centroids.crossJoin(broadcast(queryDf))
      .select(col("cid"), fastCosine(col("cvec"), col("qvec")).as("c"))
      .orderBy(col("c").desc, col("cid"))
      .limit(nProbe)
      .select(col("cid").as("probe_cid"))
    assigned
      .join(broadcast(probed), col("centroid_id") === col("probe_cid"), "left_semi")
      .crossJoin(broadcast(queryDf))
      .select(col(idCol), round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Per-dimension (pos, mn, mx) calibration table for scalar
    * quantization — one aggregate over the corpus, dims rows out.
    */
  def quantizationParams(vectors: DataFrame, vecCol: String = "embedding"): DataFrame =
    vectors.select(posexplode(asDouble(col(vecCol))))
      .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))

  /** The int8-dequantized view of an embedding: each dimension linearly
    * coded into 0..255 against the calibration range and decoded again —
    * exactly the value a uint8-stored index would search with, so
    * ranking on this column measures the real quantized-recall. Params
    * are LITERALS (dims is an index design constant), keeping the
    * projection narrow and codegen-resident; a degenerate dimension
    * (mx == mn) decodes to the constant. Deterministic: same IEEE ops in
    * the same order in any engine.
    */
  def dequantizedCol(vecCol: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(mins.size == maxs.size && mins.nonEmpty)
    val mnA = typedLit(mins)
    val mxA = typedLit(maxs)
    transform(sequence(lit(0), lit(mins.size - 1)), d => {
      val v = element_at(asDouble(vecCol), d + 1)
      val mn = element_at(mnA, d + 1)
      val mx = element_at(mxA, d + 1)
      when(mx > mn,
        mn + round(lit(255) * (v - mn) / (mx - mn), 0) * (mx - mn) / lit(255))
        .otherwise(mn)
    })
  }

  /** Quantized ANN with full-precision re-rank: rank the corpus on the
    * dequantized representation (what an int8 index stores — 4× less
    * memory/scan than float32, 8× less than float64), keep the top
    * k·rerankFactor candidates, then re-rank those exactly. The standard
    * memory/recall lever for an index that no longer fits: only the
    * candidate set ever touches full precision. Ordering uses the
    * 4-d.p.-rounded scores with id tiebreaks at both stages, so the
    * result is reproducible across engines like the other ANN paths.
    */
  def quantizedTopK(vectors: DataFrame, queryDf: DataFrame, k: Int,
      rerankFactor: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // dims-sized collect — bounded by index design, like centroid probes
    val params = quantizationParams(vectors, vecCol).orderBy("pos").collect()
    val mins = params.map(_.getDouble(1)).toSeq
    val maxs = params.map(_.getDouble(2)).toSeq
    val cand = vectors
      .select(col(idCol), col(vecCol),
        dequantizedCol(col(vecCol), mins, maxs).as("dq"))
      .crossJoin(broadcast(queryDf))
      .select(col(idCol), col(vecCol),
        round(fastCosine(col("dq"), col("qvec")), 4).as("dq_cos"))
      .orderBy(col("dq_cos").desc, col(idCol))
      .limit(k * rerankFactor)
    cand.crossJoin(broadcast(queryDf))
      .select(col(idCol),
        round(fastCosine(asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane vectors: component (j, d) is
    * uniform in [-1, 1), derived from 8 hex chars of md5 — reproducible
    * in any engine (the SQL oracle rebuilds identical hyperplanes). Built
    * ONCE per bit (numBits rows of `dims`-element arrays, broadcast), not
    * per vector — and projected with the sequential-fold dot product so
    * the sign bit is bit-stable across engines (an unordered float sum
    * could flip a near-zero projection's sign between Spark and the
    * oracle's parallel aggregation).
    */
  def hyperplanes(spark: org.apache.spark.sql.SparkSession, numBits: Int,
      dims: Int): DataFrame =
    spark.range(numBits).select(col("id").cast("int").as("j"))
      .select(col("j"), transform(sequence(lit(0), lit(dims - 1)),
        d => graft.functions.HashExpressions.md5Prefix64(concat(col("j").cast("string"), lit("|"),
          d.cast("string")), 8).cast("double") /
          lit(2147483648.0) - 1.0).as("hv"))

  /** Sign-random-projection LSH signatures: `numBits` sign bits of
    * hyperplane dot products, grouped into bands of `bitsPerBand`. Two
    * vectors share a band bucket with probability (1 - θ/π)^bitsPerBand
    * per band — the candidate generator for near-dup search at scale
    * (cost ∝ Σ bucket², not n²).
    */
  def lshBandBuckets(vectors: DataFrame, numBits: Int, bitsPerBand: Int,
      dims: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numBits % bitsPerBand == 0,
      s"numBits ($numBits) must be a multiple of bitsPerBand ($bitsPerBand)")
    val hp = hyperplanes(vectors.sparkSession, numBits, dims)
    vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(hp))
      .select(col("id"), col("j"),
        when(fastDot(col("v"), col("hv")) > 0, lit(1)).otherwise(lit(0)).as("bit"))
      .groupBy(col("id"), (col("j") / bitsPerBand).cast("int").as("band"))
      .agg(sum(col("bit") * pow(lit(2), col("j") % bitsPerBand).cast("long")).as("bucket"))
  }

  /** Exact-cosine verification of candidate (a, b) pairs — the shared
    * tail of both the all-pairs and the LSH-candidate near-dup paths.
    */
  private def verifyPairs(candidates: DataFrame, vectors: DataFrame,
      threshold: Double, idCol: String, vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      sqrt(fastDot(asDouble(col(vecCol)), asDouble(col(vecCol)))).as("n"))
    candidates
      .join(v.select(col("id").as("a"), col("v").as("va"), col("n").as("na")), Seq("a"))
      .join(v.select(col("id").as("b"), col("v").as("vb"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (fastDot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_raw"))
      .where(col("cos_raw") >= threshold)
      .select(col("a"), col("b"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** LSH-bucketed near-dup pairs: candidates share ≥1 band bucket, then
    * the exact cosine filter runs on candidates only. Recall depends on
    * the (numBits, bitsPerBand) tradeoff and the similarity level —
    * the exact [[nearDupPairs]] is the ground-truth verifier.
    *
    * `maxBucket` caps every (band, bucket) document frequency before the
    * self-join ([[Dedup.pruneHotKeys]]) — 10⁵ identical embeddings
    * otherwise form one quadratic bucket per band. Identical vectors are
    * hot in every band, so at scale run exact dedup first (the documented
    * precondition); the cap is the backstop that bounds the join when the
    * precondition is violated, while buckets hot in only some bands (the
    * boilerplate case) keep their recall through the other bands.
    */
  def lshNearDupPairs(vectors: DataFrame, threshold: Double,
      numBits: Int = 16, bitsPerBand: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val buckets = graft.ops.Dedup.pruneHotKeys(
      lshBandBuckets(vectors, numBits, bitsPerBand, dims, idCol, vecCol),
      Seq("band", "bucket"), maxBucket)
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    verifyPairs(candidates, vectors, threshold, idCol, vecCol)
  }

  /** All near-duplicate pairs (a < b) with cosine ≥ threshold, exact
    * all-pairs — the verifier stage; LSH/IVF prune candidates at scale.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val ids = vectors.select(col(idCol).as("id"))
    val candidates = ids.as("x").join(ids.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    verifyPairs(candidates, vectors, threshold, idCol, vecCol)
  }

  /** SemDeDup-style semantic deduplication: assign every embedding to a
    * coarse cluster, compare pairs ONLY within a cluster, and drop a row
    * when a smaller-id cluster-mate sits above the cosine threshold.
    * Returns the survivors as (id, centroid_id).
    *
    * This is the published recipe for embedding-level dedup at corpus
    * scale (cluster first, pairwise only inside clusters): the pair
    * space shrinks from |corpus|² to Σ cluster², bounded by cluster
    * sizing exactly like the LSH band buckets (`maxBucket`) and the df
    * pruning of the text family — clusters ARE the blocking structure.
    * Recall is the clustering's: a near-dup pair split across clusters
    * is not compared (the documented trade; more/narrower clusters raise
    * precision of blocking and lower recall). The keep rule (drop the
    * larger id of an over-threshold pair) is deterministic and local —
    * no connected components needed: every surviving row had NO
    * smaller-id duplicate, so iterating the rule is a fixpoint after one
    * pass.
    *
    * Plan shape: one broadcast assignment pass, `localCheckpoint` to
    * materialize it (it feeds both sides of the self-join — the
    * standard multi-reference discipline, same as the corpus-build
    * stages), one exchange on centroid_id for the self-join, a
    * broadcast-able distinct dropped-id set, and a left anti join.
    */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = assignToCentroids(vectors, centroids, idCol, vecCol)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("e"),
        col("centroid_id"))
      .localCheckpoint(true)
    val dropped = a.as("x").join(a.as("y"),
        col("x.centroid_id") === col("y.centroid_id")
          && col("x.id") < col("y.id"))
      .where(fastCosine(col("x.e"), col("y.e")) >= threshold)
      .select(col("y.id").as("id")).distinct()
    a.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("centroid_id"))
  }

  /** Per-dimension corpus statistics of an embedding column — the
    * profiling/whitening input every vector pipeline computes before
    * normalizing or quantizing: one row per dimension with count, exact
    * milli-scaled integer sum, mean and population stddev (both in
    * milli-units, 6 d.p.).
    *
    * Exact-integer core (the q115 discipline): components quantize to
    * integer millis, so sums and sums-of-squares are exact BIGINTs under
    * any partial-aggregation tree; mean and stddev then come from exact
    * integers through fixed expressions (`s/cnt`,
    * `sqrt(cnt·ss − s²)/cnt`). Overflow budget: |x| ≤ 2 (unit-norm-ish
    * embeddings) gives v² ≤ 4·10⁶, safe past 10⁹ rows per dimension —
    * beyond that switch the accumulators to DecimalType.
    *
    * Plan: one narrow posexplode projection → one dims-sized aggregate
    * (map-side combined). Never collects; never shuffles vectors — only
    * (dim, v) pairs.
    */
  def embeddingDimStats(emb: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
    e.select(col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000).cast("long").as("v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("cnt"), sum("v").as("s"),
        sum(col("v") * col("v")).as("ss"))
      .select(col("dim"), col("cnt"), col("s").as("sum_mv"),
        round(col("s").cast("double") / col("cnt"), 6).as("mean_mv"),
        round(sqrt((col("cnt") * col("ss") - col("s") * col("s"))
          .cast("double")) / col("cnt"), 6).as("std_mv"))
  }

  /** Per-dimension standardization (diagonal whitening): each embedding
    * value becomes its z-score against that dimension's corpus
    * distribution — the feature-normalization step before clustering /
    * quantization treats dimensions comparably.
    *
    * The q115 z-score discipline in milli-integer space:
    * `z = (n·v − s) / sqrt(n·ss − s²)` — exact longs inside, one sqrt +
    * one division, 6 d.p. round; a zero-variance dimension scores null
    * rather than ±inf. Plan: one dims-sized stats aggregate joined back
    * broadcast-style against the narrow (id, dim, v) explode — two
    * scans, no self-join, vectors never shuffled whole.
    */
  def whitenEmbeddings(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * 1000).cast("long")))
          .as(Seq("dim", "v")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("v"))
    val stats = e.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("ss"))
    val varNum = col("n") * col("ss") - col("s") * col("s")
    e.join(stats, "dim")
      .select(col(idCol), col("dim"), col("v"),
        when(varNum > 0,
          round((col("n") * col("v") - col("s")).cast("double")
            / sqrt(varNum.cast("double")), 6)).as("z"))
  }

  /** Robust per-dimension scaling — the median/IQR analogue of
    * [[whitenEmbeddings]]'s mean/σ z-score, for feature pipelines where
    * a few corrupt vectors would drag a mean+σ normalization (the q150
    * whale argument applied to embedding dims).
    *
    * Exactness (the q150 space-scaling discipline, one step further):
    * milli values are QUADRUPLED, because every percentile this op
    * needs — p25/p50/p75 — interpolates at fractions {0, ¼, ½, ¾}
    * whose product with a 4×-scaled gap is an integer: `m4`, `p25_4`,
    * `p75_4`, and `iqr4` are all exactly-representable integers on
    * both engines (cast, not floored — nothing to floor). The scaled
    * value `r_ppm = (10⁶·(4v − m4)) div iqr4` is then pure truncating
    * BIGINT arithmetic; zero-IQR dims (≥ half the mass on one value)
    * null rather than divide.
    *
    * Plan: one narrow posexplode, one dims-keyed percentile aggregate
    * (dims-sized state; the [[graft.ops.Analytics]] `approxAccuracy`
    * swap applies verbatim at 100 TB), broadcast back onto the value
    * stream — vectors never shuffle.
    */
  def robustScaleEmbeddings(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * 1000).cast("long")))
          .as(Seq("dim", "v")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("v"))
    val stats = e.groupBy("dim").agg(
      percentile(col("v") * 4, lit(0.5)).cast("long").as("m4"),
      percentile(col("v") * 4, lit(0.25)).cast("long").as("p25_4"),
      percentile(col("v") * 4, lit(0.75)).cast("long").as("p75_4"))
      .select(col("dim"), col("m4"),
        (col("p75_4") - col("p25_4")).as("iqr4"))
    e.join(stats, "dim")
      .select(col(idCol), col("dim"), col("v"), col("m4"), col("iqr4"),
        when(col("iqr4") > 0,
          expr("(1000000 * (4 * v - m4)) div iqr4")).as("r_ppm"))
  }

  /** Per-dimension Fisher discriminant ratio over LABELED embeddings —
    * the feature-selection / class-separability report (which dimensions
    * actually separate the classes, before anyone trains on them).
    * F_dim = (between-class SS / (k−1)) / (within-class SS / (N−k)),
    * from the standard decomposition SS_total = SS_between + SS_within.
    *
    * Exactness: values in milli ints; per-class sums/squares exact
    * BIGINTs; the Σₗ sₗ²/nₗ term — the one place classic Fisher forces
    * a per-class division — uses TRUNCATING `div` so the summand stays
    * an exact reproducible BIGINT (bias ≤ k units on a ~10¹⁰ scale,
    * identical on both engines; the q118 floor discipline instead of a
    * float Σ whose partition order could leak). One final double
    * ratio, 6 d.p.; within = 0 (all class members identical per dim) →
    * null.
    *
    * Plan: one narrow posexplode (rows = N·dims), one (label, dim)
    * aggregate — map-side combined, state O(k·dims) — one dims-sized
    * re-aggregate. Vectors never shuffle; nothing bigger than k·dims
    * rows leaves the first combine.
    */
  def fisherDims(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val e = emb.where(col(labelCol).isNotNull)
      .select(col(labelCol).as("lab"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * 1000).cast("long")))
          .as(Seq("dim", "v")))
      .select(col("lab"), col("dim").cast("long").as("dim"), col("v"))
    val byClass = e.groupBy("dim", "lab")
      .agg(count(lit(1)).as("nc"), sum("v").as("sc"),
        sum(col("v") * col("v")).as("ssc"))
    byClass.groupBy("dim")
      .agg(sum("nc").as("n"), countDistinct("lab").as("k"),
        sum("sc").as("s"), sum("ssc").as("ss"),
        sum(expr("(sc * sc) div nc")).as("cterm"))
      .where(col("k") >= 2)
      .select(col("dim"), col("n"), col("k"),
        (col("cterm") - expr("(s * s) div n")).as("between_num"),
        (col("ss") - col("cterm")).as("within_num"))
      .withColumn("fisher",
        when(col("within_num") <= 0, lit(null))
          .otherwise(round(
            col("between_num").cast("double") * (col("n") - col("k")).cast("double")
              / (col("within_num").cast("double") * (col("k") - 1).cast("double")),
            6)))
  }

  /** Upper-triangle covariance matrix of the embedding dimensions — the
    * whitening / PCA input ([[embeddingDimStats]] gives the diagonal's
    * marginals; this adds the cross terms). Exact milli-integer space
    * throughout: `cov·10⁶ = (n·Σxy − Σx·Σy) / n²` is one division of
    * exact longs, engine-deterministic (the q122 discipline — never a
    * float accumulation whose partition order could leak).
    *
    * Scale shape: the (i ≤ j) pairs are generated IN-ROW (posexplode +
    * slice — never a row self-join), aggregated with map-side combine
    * into dims·(dims+1)/2 groups; the per-dim sums join back from a
    * dims-sized frame Catalyst broadcasts. Vectors are never shuffled;
    * shuffle rows = dims² design constants, independent of corpus size.
    */
  def embeddingCovariance(emb: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val vints = transform(col(vecCol),
      x => round(x.cast("double") * 1000).cast("long"))
    val rows = emb.select(vints.as("v"))
      .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
      .select(col("i").cast("long").as("i"), col("vi"),
        posexplode(slice(col("v"), col("i") + 1, greatest(size(col("v")) - col("i"), lit(0))))
          .as(Seq("jrel", "vj")))
      .select(col("i"), (col("i") + col("jrel")).cast("long").as("j"),
        col("vi"), col("vj"))
    val prods = rows.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("vi") * col("vj")).as("sxy"))
    val sums = emb.select(posexplode(vints).as(Seq("d", "x")))
      .groupBy(col("d").cast("long").as("d")).agg(sum("x").as("sd"))
    prods
      .join(sums.select(col("d").as("i"), col("sd").as("sx")), Seq("i"))
      .join(sums.select(col("d").as("j"), col("sd").as("sy")), Seq("j"))
      .select(col("i"), col("j"), col("n"), col("sxy"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("n")).cast("double"), 6).as("cov_mc"))
  }

  /** Top principal component of the embedding cloud by power iteration —
    * the data-direction summary PCA starts with (whitening's q141 sibling:
    * that removes per-dim scale, this finds the dominant cross-dim axis).
    * Every arithmetic step is integer, so the SQL oracle replays the
    * identical walk: the covariance NUMERATOR `n·Σxy − Σx·Σy` (exact
    * longs, [[embeddingCovariance]]'s milli space) is integer-divided by
    * n² into a milli² matrix Q (eigenvectors are invariant under the
    * positive scaling, so dividing early just keeps products in range);
    * the iterate starts at the all-ones vector ×10⁶ and each round maps
    * v → Q·v (exact 64-bit: |Q|≤milli², |v|≤~10⁶, dims-term sums) then
    * rescales by the truncating division `v / max(1, max|v| / 10⁶)` —
    * L∞ normalization with zero floats. Truncation toward zero is what
    * BOTH engines' integer division does (JVM `Long./`, DuckDB `//`).
    * Covariance is PSD so the iterate never sign-flips; ties and zero
    * matrices are deterministic by construction. Output: (d, v) — the
    * component in ~10⁶ L∞ scale; callers needing unit L2 divide once.
    *
    * Scale shape: the distributed work is exactly [[embeddingCovariance]]
    * — in-row pair fan-out, map-side combine, dims²-bounded shuffle; the
    * driver receives dims·(dims+1)/2 integer rows (a design constant,
    * the PQ-codebook precedent) and runs `iters` O(dims²) integer loops
    * that no cluster should be bothered with. Corpus size only ever
    * enters through the aggregate.
    */
  def topPrincipalComponent(emb: DataFrame, iters: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = emb.sparkSession
    val vints = transform(col(vecCol),
      x => round(x.cast("double") * 1000).cast("long"))
    val rows = emb.select(vints.as("v"))
      .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
      .select(col("i").cast("long").as("i"), col("vi"),
        posexplode(slice(col("v"), col("i") + 1, greatest(size(col("v")) - col("i"), lit(0))))
          .as(Seq("jrel", "vj")))
      .select(col("i"), (col("i") + col("jrel")).cast("long").as("j"),
        col("vi"), col("vj"))
    val prods = rows.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("vi") * col("vj")).as("sxy"))
    val sums = emb.select(posexplode(vints).as(Seq("d", "x")))
      .groupBy(col("d").cast("long").as("d")).agg(sum("x").as("sd"))
    // the collect is dims·(dims+1)/2 integer triples — bounded by the
    // embedding dimensionality, a design constant; the iteration needs
    // random access to the whole matrix, which no row-at-a-time plan has
    val tri = prods
      .join(sums.select(col("d").as("i"), col("sd").as("sx")), Seq("i"))
      .join(sums.select(col("d").as("j"), col("sd").as("sy")), Seq("j"))
      .select(col("i").cast("int"), col("j").cast("int"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        col("n"))
      .collect()
    val dims = tri.iterator.map(r => math.max(r.getInt(0), r.getInt(1))).max + 1
    val q = Array.ofDim[Long](dims, dims)
    tri.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val n = r.getLong(3)
      // Long division truncates toward zero — DuckDB's `//` semantics
      val c = r.getLong(2) / (n * n)
      q(i)(j) = c; q(j)(i) = c
    }
    var v = Array.fill(dims)(1000000L)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(dims) { i =>
        var acc = 0L
        var j = 0
        while (j < dims) { acc += q(i)(j) * v(j); j += 1 }
        acc
      }
      val m = y.iterator.map(math.abs).max
      val denom = math.max(1L, m / 1000000L)
      v = y.map(_ / denom)
    }
    import spark.implicits._
    v.zipWithIndex.map { case (x, d) => (d.toLong, x) }
      .toSeq.toDF("d", "v")
  }

  /** Greedy k-center (farthest-point-first) coreset — the classic
    * 2-approximation for DIVERSE subset selection over an embedding
    * column (pick the training examples that together cover the space,
    * the complement of [[semanticDedup]]'s "drop the redundant ones").
    * Seed = lowest id; each round adds the point whose distance to its
    * NEAREST already-chosen center is maximal. Distances are squared L2
    * in exact milli-integer space ([[whitenEmbeddings]]' quantization),
    * lowest id breaks ties — fully engine-deterministic.
    *
    * Scale shape: k is a design constant. Each round evaluates distance
    * to the ONE new center (a broadcast-literal milli vector) and folds
    * it into a running `least` — a narrow codegen'd map over the corpus
    * — then takes a global 1-row argmax (`orderBy.limit(1)`: per-
    * partition top-1, driver merges partition heads). Nothing but k
    * single rows ever reaches the driver; no shuffle of vectors at all.
    * Returns (sel_rank, id, dist2) for the k centers; the seed's dist2
    * is null.
    */
  def kCenterCoreset(emb: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    val m = emb.select(col(idCol).as("id"),
        transform(col(vecCol), x => round(x.cast("double") * 1000).cast("long"))
          .as("v"))
      .localCheckpoint() // k scans over a small quantized frame; fixes the lineage so the per-round least() chain stays shallow
    def d2(center: Array[Long]): Column =
      aggregate(
        zip_with(col("v"), lit(center), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    def vecOf(id: Long): Array[Long] =
      m.where(col("id") === id).head().getAs[scala.collection.Seq[Long]]("v").toArray
    val seed = m.agg(min(col("id"))).head().getLong(0)
    var chosen = Vector[(Int, Long, java.lang.Long)]((0, seed, null))
    var cur = m.withColumn("md", d2(vecOf(seed)))
    for (r <- 1 until k) {
      val row = cur.where(!col("id").isInCollection(chosen.map(_._2)))
        .orderBy(col("md").desc, col("id")).limit(1).head()
      val (cid, cd) = (row.getLong(row.fieldIndex("id")), row.getLong(row.fieldIndex("md")))
      chosen :+= ((r, cid, Long.box(cd)))
      if (r < k - 1) cur = cur.withColumn("md", least(col("md"), d2(vecOf(cid))))
    }
    import spark.implicits._
    chosen.toDF("sel_rank", "id", "dist2")
      .select(col("sel_rank"), col("id").as(idCol), col("dist2"))
  }

  /** Embedding-space isotropy audit — the MEAN PAIRWISE COSINE per
    * group WITHOUT a pair join, via the Gram identity
    * Σ_{i≠j} ⟨v_i,v_j⟩ = ‖Σ_i v_i‖² − Σ_i ‖v_i‖². A healthy embedding
    * space is near-isotropic (mean pairwise cosine ≈ 0); a collapsed
    * one (all vectors in a cone — the classic anisotropy pathology
    * that sinks cosine retrieval) shows a large positive mean. The
    * naive audit is O(n²·d) pairs; this is TWO grouped aggregates over
    * the exploded (group, dim) frame — O(n·d) with map-side combine,
    * the only shape that survives 10⁹ vectors per group.
    *
    * Exactness: each coordinate is micro-quantized ONCE (the
    * [[kmeansInteger]] convention — the single float→int step), all
    * sums ride decimal(38). The released BIGINT sums are bounded by
    * ‖Σv‖² ≤ (Σ‖v‖)² = n²·10¹² at unit norm — exact through n ≈ 3·10³
    * per group fully ALIGNED, far beyond that when near-isotropic
    * (pair sum ≈ n²·meancos·10¹²); past the bound drop the two raw-sum
    * columns, not the operator — the 6-d.p. ratios are computed on the
    * decimal frame UPSTREAM of that cast and never overflow. The two
    * 6-d.p. ratios are each ONE double chain in
    * pinned order (value ÷ count ÷ 10¹²), mirrored verbatim in the
    * oracle. `mean_cos6` is the isotropy verdict when inputs are
    * unit-normalized (mean_norm2_6 ≈ 1 is the attached sanity bit).
    */
  def embeddingIsotropy(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val perDim = emb
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), col(idCol).as("id"),
        posexplode(asDouble(col(vecCol))).as(Seq("dim", "x")))
      .select(col("grp"), col("dim"),
        round(col("x") * 1000000).cast("long").as("xm"))
      .groupBy("grp", "dim")
      .agg(count(lit(1)).as("cnt"),
        sum(col("xm").cast("decimal(38,0)")).as("s"),
        sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("q"))
    perDim.groupBy("grp")
      .agg(max("cnt").as("n_vecs"), count(lit(1)).as("n_dims"),
        sum(col("q")).as("qs"),
        sum(col("s") * col("s")).as("ss"))
      .select(col("grp"), col("n_vecs"), col("n_dims"),
        col("qs").cast("long").as("sum_norm2"),
        (col("ss") - col("qs")).cast("long").as("pair_dot_sum"),
        round(col("qs").cast("double") / col("n_vecs").cast("double")
          / lit(1e12), 6).as("mean_norm2_6"),
        when(col("n_vecs") > 1,
          round((col("ss") - col("qs")).cast("double")
            / (col("n_vecs") * (col("n_vecs") - 1)).cast("double")
            / lit(1e12), 6)).as("mean_cos6"))
  }

  /** Top-principal-component share — [[embeddingIsotropy]]'s SPECTRAL
    * sibling: how much of the embedding space's second-moment energy
    * sits in ONE direction. Power iteration over the d×d second-moment
    * matrix M = Σ_i v_i v_iᵀ (about the origin — no mean-centering, so
    * the audit is exact-integer end to end), `iters` rounds from the
    * all-ones start, each round re-normalized to max|component| = 10⁶
    * by TRUNCATING division (BigInt quot ≡ Spark `div` ≡ DuckDB `//`).
    * Reported: the Rayleigh share λ/trace(M) and the dominant
    * dimension of the converged direction.
    *
    * Scale: M is built by the native
    * [[graft.functions.OuterProductSumAgg]] kernel — ONE pass, d²
    * multiply-adds per row in a flat per-task long buffer, no row
    * fan-out, shuffle = d²+2 longs per task (d ≤ 256 enforced in the
    * kernel). Two rejected shapes, both measured: quantize-explode +
    * id-keyed self-join (exp 1.17, 40 s at sf1 — re-shuffles n·d rows
    * by id), and chained-generator fan-out + (d1,d2) hash aggregate
    * (820M aggregate-input rows at sf10 = 135 s, allocation-bound;
    * the kernel does the same arithmetic in ~4 s). The iteration then
    * runs on the driver over the bounded matrix in exact BigInt;
    * nothing data-sized ever leaves the executors.
    */
  def topComponentShare(emb: DataFrame, idCol: String, vecCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters out of range: $iters")
    val spark = emb.sparkSession
    val packed = emb.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(transform(asDouble(col(vecCol)),
        x => round(x * 1000000).cast("long")).as("xs"))
      .select(graft.functions.MomentExpressions.outerProductSum(col("xs"))
        .as("m"))
      .head().getAs[scala.collection.Seq[Long]]("m")
      .toArray // bounded: d²+2 longs, d ≤ 256 (kernel-enforced)
    val dims = packed(0).toInt
    require(dims >= 1, "no vectors to audit")
    val nVecs = packed(1)
    val m = Array.ofDim[BigInt](dims, dims)
    for (i <- 0 until dims; j <- 0 until dims)
      m(i)(j) = BigInt(packed(2 + i * dims + j))
    var u = Array.fill(dims)(BigInt(1000000))
    var w = Array.fill(dims)(BigInt(0))
    for (_ <- 1 to iters) {
      w = Array.tabulate(dims)(d =>
        (0 until dims).iterator.map(e => m(d)(e) * u(e)).sum)
      val mx = w.iterator.map(_.abs).max
      if (mx.signum > 0) // zero matrix: direction stays at the seed
        u = w.map(x => x * 1000000 / mx) // BigInt / truncates = div = //
    }
    w = Array.tabulate(dims)(d =>
      (0 until dims).iterator.map(e => m(d)(e) * u(e)).sum)
    val lamNum = (0 until dims).iterator.map(d => u(d) * w(d)).sum
    val lamDen = (0 until dims).iterator.map(d => u(d) * u(d)).sum
    val trace = (0 until dims).iterator.map(d => m(d)(d)).sum
    val topDim = (0 until dims).minBy(d => (-u(d).abs, d))
    import spark.implicits._
    // share6 via Spark's own round over the exact integer inputs, so
    // the double chain is the engine's (mirrored in the oracle)
    Seq((nVecs, dims.toLong, trace.toString, lamNum.toString,
        lamDen.toString, topDim.toLong))
      .toDF("n_vecs", "n_dims", "trace_s", "ln_s", "ld_s", "top_dim")
      .select(col("n_vecs"), col("n_dims"),
        col("trace_s").cast("decimal(38,0)").cast("long").as("trace"),
        when(lit(lamDen.signum > 0 && trace.signum > 0),
          round(col("ln_s").cast("decimal(38,0)").cast("double")
            / col("ld_s").cast("decimal(38,0)").cast("double")
            / col("trace_s").cast("decimal(38,0)").cast("double"), 6))
          .as("top_share6"),
        col("top_dim"))
  }
}
