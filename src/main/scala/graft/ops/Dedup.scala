package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Deduplication operators for training-data pipelines.
  *
  * Scale design notes (the point of each variant at 100 TB):
  *  - exact: one hash-shuffle on a 128-bit digest of the content — never on
  *    the raw text (keys stay 16 bytes regardless of document size);
  *  - minhash+LSH: candidate generation is a self-join on (band, band
  *    signature) — cost ∝ Σ bucket², not n²; bands/rows trade recall vs cost;
  *  - simhash: a 16-bit locality-sensitive digest computed in a single
  *    narrow projection (higher-order functions, no explode) — near-dups
  *    then pair up by digest equality or small Hamming distance;
  *  - n-gram Jaccard: the exact verifier run *after* LSH candidate
  *    generation at scale (here also exposed standalone for the oracle).
  */
object Dedup {

  /** Exact dedup groups: one row per distinct fingerprint with the kept
    * (minimum) id and group size. `deduped` below keeps only group keepers.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))

  def deduped(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(exactGroups(df, textCol, idCol).select(col("keeper")),
      col(idCol) === col("keeper"), "left_semi")

  /** Exact dedup groups over the UNICODE-canonical fingerprint: NFC
    * first (native [[graft.functions.UnicodeNormalize]] kernel — the
    * `isNormalized` fast path makes already-composed text free), then
    * the same lower/whitespace-collapse/md5 canonicalization as
    * [[exactGroups]]. On web text this is the difference between a
    * dedup that works and one that misses every precomposed-vs-
    * combining accent variant; same plan shape as [[exactGroups]] —
    * one map-side-combined exchange on a 16-byte digest.
    */
  def exactGroupsNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    df.groupBy(TextOps.fingerprint(
        graft.functions.NormalizeExpressions.nfc(col(textCol))).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))
  }

  /** Distinct (id, shingle) rows — shared prefix of the similarity ops.
    * The words array is projected as an attribute BEFORE shingling (see
    * [[TextOps.shinglesFromWords]]: an inline split is re-evaluated per
    * lambda reference — the no-CSE-inside-lambdas trap).
    */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), TextOps.words(col(textCol)).as("_w"))
      .select(col("id"),
        explode(TextOps.shinglesFromWords(col("_w"), n)).as("shingle"))

  /** 64-bit md5 digest of the shingle column, for ops whose output never
    * needs the raw string: the data-sized shuffle (df window / pair
    * self-join) then keys on 16 fixed bytes instead of a ~25-byte-plus
    * n-gram string — the q391 discipline, where the raw-string variant
    * measured spill-bound exp 1.31 across the sf1→sf10 decade. NOT
    * applied where the string feeds a downstream hash (minhash/LSH
    * signatures would change) or appears in the output. At 64 bits a
    * collision merges two shingles; on a 10¹²-distinct-shingle corpus
    * that perturbs a handful of intersection counts by ±1 — noise far
    * below any dedup threshold (and the all-pairs ops this guards are
    * the VERIFY baseline; the scale path is LSH).
    */
  private def digestShingles(sh: DataFrame): DataFrame =
    sh.select(col("id"), substring(md5(col("shingle")), 1, 16).as("shingle"))

  /** Document-frequency pruning for pair-generating self-joins: drop keys
    * held by more than `maxDocFreq` documents before joining. A self-join
    * on a key is quadratic *per key bucket* — at corpus scale a stopword
    * shingle ("one of the") or boilerplate fingerprint shared by 10⁵ docs
    * explodes one bucket even when the total is fine. Ultra-common keys
    * carry no discriminative signal (standard df pruning), so capping
    * bounds every bucket at `maxDocFreq²` candidate pairs without losing
    * near-dup recall. `rows` must be distinct per (doc, key) — which
    * [[shingleRows]] and [[TextOps.winnowingFingerprintRows]] guarantee —
    * so a plain count is the document frequency.
    */
  def pruneHotKeys(rows: DataFrame, keyCol: String, maxDocFreq: Int): DataFrame =
    pruneHotKeys(rows, Seq(keyCol), maxDocFreq)

  /** Composite-key variant — the LSH band joins key on (band, bucket). */
  def pruneHotKeys(rows: DataFrame, keyCols: Seq[String], maxDocFreq: Int): DataFrame =
    if (maxDocFreq == Int.MaxValue) rows
    else {
      // window-count, not groupBy+anti-join: one hash-partition on the key
      // (which the downstream pair self-join needs anyway, so its exchange
      // is reusable) instead of a separate aggregate plus a second shuffle
      // of the full rows for the anti-join
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
      rows.withColumn("_df", count(lit(1)).over(w))
        .where(col("_df") <= maxDocFreq).drop("_df")
    }

  /** Shared scoring tail: per-pair intersection counts + per-doc sizes →
    * jaccard ≥ threshold. The size lookups are one row per document, so
    * the optimizer/AQE picks broadcast when the doc count is small and
    * falls back to a shuffle join when it isn't — a forced broadcast()
    * would OOM on a 100 TB corpus (one row per document is unbounded).
    */
  private def jaccardScored(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    jaccardScored(inter, sizes, sizes, threshold)

  /** Two-sided variant: the `a` and `b` ids come from different corpora
    * (the cross-corpus dedup path), so the per-document shingle sizes
    * join from each side's own frame.
    */
  private def jaccardScored(inter: DataFrame, sizesA: DataFrame,
      sizesB: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizesA.withColumnRenamed("n_sh", "na"), col("a") === col("id")).drop("id")
      .join(sizesB.withColumnRenamed("n_sh", "nb"), col("b") === col("id")).drop("id")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** Exact pairwise n-gram Jaccard over all id pairs sharing ≥1 shingle.
    * Returns pairs (a < b) with `jaccard` ≥ `threshold`. Arithmetic is a
    * single division of exact integers — engine-deterministic. The df
    * window and the pair self-join key on [[digestShingles]]' 64-bit
    * digests, never the raw n-gram strings (output carries ids only).
    *
    * `maxDocFreq` < MaxValue switches to *df-pruned* Jaccard: shingles in
    * more than that many docs are removed before BOTH the intersection and
    * the per-doc sizes, so the score stays a true Jaccard over the pruned
    * shingle universe (near-dup pairs lose the same shingles from both
    * sides). This is the 100 TB-safe configuration.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh = pruneHotKeys(digestShingles(shingleRows(df, textCol, idCol, n)),
      "shingle", maxDocFreq)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("x").join(sh.as("y"), col("x.shingle") === col("y.shingle"))
      .where(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    jaccardScored(inter, sizes, threshold)
  }

  /** Reciprocal-df WEIGHTED Jaccard near-dup pairs — plain Jaccard
    * ([[ngramJaccardPairs]]) counts a boilerplate shingle ("all rights
    * reserved", a cookie banner) the same as a rare one, so two
    * unrelated pages sharing a template score high. Here every shingle
    * carries weight 10⁶ div df (its corpus document frequency) — hot
    * shingles are worth ~nothing, rare overlap is worth everything —
    * and similarity is the weighted-set Jaccard Σ_shared w / Σ_union w,
    * decided by the exact cross-multiplication 100·W∩ ≥ τ·(W_a + W_b −
    * W∩). All integers: weights, per-doc totals, pair sums.
    *
    * Scale: weights come from the shingle-df aggregate the join needs
    * anyway (one digest-keyed shuffle, map-side combined); the pair
    * join carries (id, weight) — never text. The df weighting is ALSO
    * the hot-key economics: a 10⁵-doc boilerplate shingle still costs
    * its bucket² candidates, so `maxDocFreq` remains available — but
    * unlike plain Jaccard, dropping hot shingles here barely moves the
    * score they contribute ~0 weight to (the cap becomes near-lossless
    * for the METRIC, not just the recall).
    */
  def weightedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, thresholdPct: Int = 50,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100)
    val sh = pruneHotKeys(digestShingles(shingleRows(df, textCol, idCol, n)),
        "shingle", maxDocFreq)
      .localCheckpoint() // roles: df weights + both pair-join sides
    val weighted = sh
      .join(sh.groupBy("shingle").agg(count(lit(1)).as("_df")), "shingle")
      .select(col("id"), col("shingle"),
        expr("1000000 div _df").as("w"))
      .localCheckpoint() // roles: doc totals + both pair-join sides
    val totals = weighted.groupBy("id").agg(sum("w").as("wt"))
    weighted.as("x").join(weighted.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(sum(col("x.w")).as("w_inter"))
      .join(totals.select(col("id").as("a"), col("wt").as("wa")), "a")
      .join(totals.select(col("id").as("b"), col("wt").as("wb")), "b")
      // w_union > 0 guard: docs built ENTIRELY of ultra-hot shingles
      // (df > 10⁶ ⇒ weight 0) would otherwise pass via 0 ≥ 0 — the
      // exact template-page false positive this op exists to kill
      .where(col("wa") + col("wb") - col("w_inter") > 0 &&
        lit(100L) * col("w_inter") >=
        lit(thresholdPct.toLong) * (col("wa") + col("wb") - col("w_inter")))
      .select(col("a"), col("b"), col("w_inter"),
        (col("wa") + col("wb") - col("w_inter")).as("w_union"),
        expr("(1000000 * w_inter) div (wa + wb - w_inter)").as("wj_ppm"))
  }

  /** Pin a narrow-input frame onto the session's shuffle parallelism
    * when the SCAN yields fewer partitions (round-16). The local-harness
    * shape: sf0.1 parquet is one row group per file, so every
    * tokenize/explode/digest stage fused onto such a scan runs as ONE
    * task no matter how the downstream exchanges are laid out — the
    * "1-task scan" harness property of OPTIMIZATION_r15 "Not yet
    * optimized" #5. The gate reads the ACTUAL scan layout, so at
    * production scale (scan partitions ≥ session parallelism) this is a
    * no-op — no data-sized shuffle is added; it is scale-adaptive, not a
    * local[32] constant. Keyed form hash-spreads on a caller-named
    * unique-ish key; keyless form round-robins (deterministic under
    * retry via Spark's sort-before-repartition).
    */
  private[ops] def spreadIfNarrow(df: DataFrame, key: Option[Column]): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= p) df
    else key.fold(df.repartition(p))(k => df.repartition(p, k))
  }

  /** Eval n-gram coverage spectrum — the corpus-level complement of
    * per-doc contamination ([[contamination]]/[[contaminationAttribution]]):
    * for every n on the caller's lattice, what fraction of the eval
    * split's DISTINCT n-grams appear anywhere in train? Low-n coverage
    * near 10⁶ ppm is expected (shared vocabulary); the DECAY with n is
    * the signal — a long plateau means verbatim overlap, a fast decay
    * means only lexical overlap. Exact distinct counts, truncating ppm.
    *
    * Scale: per n, two distinct-shingle builds and one semi-join —
    * every shuffle keys on a 64-bit md5 DIGEST of the gram, never the
    * raw string (the [[contamination]] discipline: a 4-gram is ~25
    * bytes + row overhead, and the raw-string variant measured exp
    * 1.31 across the sf1→sf10 decade — spill-bound — vs 16-byte
    * digests; both engines hash identically, so even a collision
    * cannot diverge the compare). Output is |lattice| rows; the
    * lattice is bounded (≤ 8) so the union of per-n plans stays a
    * handful of scans; at 100 TB run it over the staged shingle table
    * instead of re-deriving per n. Memory note (measured, sf10 knob
    * matrix): the n-way digest semi-joins prefer execution memory more
    * than most of the suite — 167.9 s @8 GiB, 144.6 @12, 126 @24
    * (the 24 GiB point carries this host's large-heap kernel tax) — so
    * when THIS query is the workload, size executors toward ~12 GiB;
    * the suite default stays at the honest 8 GiB harness.
    */
  def coverageSpectrum(evalDf: DataFrame, trainDf: DataFrame,
      textCol: String, idCol: String,
      ns: Seq[Int] = Seq(1, 2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.size <= 8 && ns.forall(_ >= 1))
    val nsS = ns.distinct.sorted
    // ALL lattice sizes ride ONE tokenize+shingle pass per side, keyed
    // (n, digest): the per-n formulation re-scanned and re-tokenized
    // each corpus once per n (8 data passes for the default lattice,
    // measured 40 Exchanges in q391's plan), yet the distinct sets,
    // the semi-join, and the counts are independent across n — so one
    // (n, shingle)-keyed frame computes the identical spectrum with 2
    // passes and one semi-join (round-15). Per-n output rows are
    // reconstructed from a literal lattice frame so an empty-gram n
    // still emits its (n, 0, 0, null) row exactly as before.
    // Round-16 layout pin (the r15 verdict's #1): (a) the raw (id, text)
    // rows are spread onto the session parallelism WHEN the scan is
    // narrower (gated — a no-op at scale, see [[spreadIfNarrow]]), so the
    // tokenize+4-lattice-explode+md5 work stops running inside the
    // 1-task scan stage; (b) the distinct rides an explicit pinned
    // repartition on its own keys — REPARTITION_BY_NUM is not
    // AQE-coalescible, HashPartitioning(n, shingle) satisfies the
    // distinct's clustering, and BOTH sides of the semi-join land on the
    // same (n, shingle) × nParts layout, so the join plans with no
    // further exchange instead of running on the handful of
    // AQE-coalesced post-distinct partitions (measured: the whole
    // distinct+semi-join tail single-task at the default floor).
    val nParts = evalDf.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    def grams(df: DataFrame): DataFrame =
      spreadIfNarrow(df.select(col(idCol).as("id"), col(textCol).as("_t")),
          Some(col("id")))
        .select(TextOps.words(col("_t")).as("_w"))
        .select(explode(array(nsS.map(n => struct(lit(n.toLong).as("n"),
          TextOps.shinglesFromWords(col("_w"), n).as("sh"))): _*)).as("e"))
        .select(col("e.n").as("n"), explode(col("e.sh")).as("_raw"))
        .select(col("n"), substring(md5(col("_raw")), 1, 16).as("shingle"))
        .repartition(nParts, col("n"), col("shingle"))
        .distinct()
    val eg = grams(evalDf).localCheckpoint(false) // roles: count + semi-join
    val tg = grams(trainDf)
    val covered = eg.join(tg, Seq("n", "shingle"), "left_semi")
      .groupBy("n").agg(count(lit(1)).as("n_covered"))
    val totals = eg.groupBy("n").agg(count(lit(1)).as("n_eval_grams"))
    val lattice = evalDf.sparkSession
      .createDataFrame(evalDf.sparkSession.sparkContext
        .parallelize(nsS.map(n => org.apache.spark.sql.Row(n.toLong)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
    lattice
      .join(totals, Seq("n"), "left")
      .join(covered, Seq("n"), "left")
      .select(col("n"),
        coalesce(col("n_eval_grams"), lit(0L)).as("n_eval_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .select(col("n"), col("n_eval_grams"), col("n_covered"),
        when(col("n_eval_grams") > 0,
          expr("(1000000 * n_covered) div n_eval_grams"))
          .as("coverage_ppm"))
  }

  /** Near-dup source-attribution matrix — "who copies whom": roll the
    * exact n-gram-Jaccard pair set up to (source, source) cells, with
    * the pair count and the count of DISTINCT documents each cell
    * touches. The off-diagonal cells are the cross-source duplication
    * a per-source dedup pass ([[graft.ops.Cleaning.domainQuality]])
    * cannot see; the diagonal is each source's internal redundancy.
    * Sources are ordered lexically within a cell (s1 ≤ s2) so the
    * matrix is one triangle.
    *
    * Scale: the pair set is [[ngramJaccardPairs]]' (caller caps or
    * df-prunes per its contract); on top, two broadcast-size source
    * lookups and a cell-keyed rollup — cells ≤ sources².
    */
  def nearDupSourceMatrix(df: DataFrame, textCol: String, idCol: String,
      srcCol: String, n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val srcs = df.filter(col(idCol).isNotNull && col(srcCol).isNotNull)
      .select(col(idCol).as("id"), col(srcCol).as("src"))
    val pairs = ngramJaccardPairs(df, textCol, idCol, n, threshold,
        maxDocFreq)
      .join(srcs.select(col("id").as("a"), col("src").as("sa")), "a")
      .join(srcs.select(col("id").as("b"), col("src").as("sb")), "b")
      .select(col("a"), col("b"),
        least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"))
      .localCheckpoint() // roles: pair rollup + distinct-doc rollup
    val docs = pairs.select(col("s1"), col("s2"), col("a").as("id"))
      .unionByName(pairs.select(col("s1"), col("s2"), col("b").as("id")))
      .groupBy("s1", "s2").agg(countDistinct("id").as("n_docs"))
    pairs.groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
      .join(docs, Seq("s1", "s2"))
  }

  /** Document-continuation pairs — the SPLIT-document detector: a
    * crawler that paginates, a PDF-to-text that chunks, or an ingest
    * cap that truncates leaves one document's TAIL equal to another's
    * HEAD. Pairs (a, b) where a's last `k` tokens equal b's first `k`
    * (exact string equality — the equi-join key IS the verification),
    * a ≠ b; the stitch candidates a re-join pass consumes. Documents
    * shorter than `k` tokens cannot overlap by definition and are
    * dropped.
    *
    * Scale: each side is one narrow projection (a k-token slice per
    * document — never the full text), one gram-keyed equi-join.
    * `maxDocFreq` is the [[pruneHotKeys]] hot-gram bound, applied per
    * side: a boilerplate opening line shared by 10⁵ documents is a
    * bucket² candidate bomb and carries no stitch signal.
    */
  def continuationPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 10, maxDocFreq: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), TextOps.words(col(textCol)).as("_w"))
      .where(size(col("_w")) >= k)
    val tails = pruneHotKeys(base.select(col("id").as("a"),
      concat_ws(" ", slice(col("_w"), -k, k)).as("gram")),
      "gram", maxDocFreq)
    val heads = pruneHotKeys(base.select(col("id").as("b"),
      concat_ws(" ", slice(col("_w"), 1, k)).as("gram")),
      "gram", maxDocFreq)
    tails.join(heads, "gram")
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin-family
    * bound): identical result to [[ngramJaccardPairs]] with no df cap, but
    * candidates come only from each document's PREFIX — its
    * `n − ⌈t·n⌉ + 1` globally-rarest shingles under a total order by
    * (document frequency asc, shingle). Two sets with Jaccard ≥ t must
    * share a prefix shingle (pigeonhole: a set can miss at most
    * `n − ⌈t·n⌉` of the other's shingles), so unlike `maxDocFreq` pruning
    * — which trades recall on boilerplate-heavy pairs — nothing is lost.
    *
    * Scale shape: the candidate join runs on prefix rows only (the rarest
    * shingles, self-limiting bucket sizes by construction); verification
    * is IN-ROW — each candidate pair fetches the two sorted shingle
    * arrays and takes `array_intersect` at |a|+|b| cost, so full shingle
    * rows are never self-joined. Driver holds nothing.
    *
    * `threshold` should be exactly representable (0.5, 0.25…) so
    * `⌈t·n⌉` is float-exact in every engine (q129 discipline).
    */
  def prefixFilteredJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // digest keys ([[digestShingles]]): the rank/df/candidate shuffles
    // and the per-doc collect_set arrays carry 16 bytes per shingle,
    // never the string; prefix completeness and the exact verify are
    // order-agnostic, so the digest tiebreak changes only candidate
    // composition, not the verified output
    val sh = digestShingles(shingleRows(df, textCol, idCol, n))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val byId = Window.partitionBy("id")
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("pos", row_number().over(byId.orderBy(col("_df"), col("shingle"))))
      .withColumn("n_sh", count(lit(1)).over(byId))
    val prefix = ranked
      .where(col("pos") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("id"), col("shingle"))
    val cand = prefix.select(col("shingle"), col("id").as("a"))
      .join(prefix.select(col("shingle"), col("id").as("b")), "shingle")
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val arrs = sh.groupBy(col("id"))
      .agg(sort_array(collect_set(col("shingle"))).as("toks"),
        count(lit(1)).as("n_sh"))
    cand
      .join(arrs.select(col("id").as("a"), col("toks").as("ta"), col("n_sh").as("na")), Seq("a"))
      .join(arrs.select(col("id").as("b"), col("toks").as("tb"), col("n_sh").as("nb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** EXACT containment-similarity join — the "is document a's content
    * (almost) wholly inside document b" test that drops quotes, snippets
    * and mirrored excerpts a symmetric Jaccard threshold misses (a short
    * doc fully contained in a long one has low Jaccard but containment 1).
    * Emits (a, b, containment) where
    * `containment = |sh(a) ∩ sh(b)| / |sh(a)| ≥ pct/100` and a ≠ b.
    *
    * Asymmetric PPJoin-style prefix filter: if none of a's
    * `n_a − ⌈pct·n_a/100⌉ + 1` globally-rarest shingles hits b, then
    * `|A∩B| ≤ ⌈pct·n_a/100⌉ − 1 < pct·n_a/100` (pigeonhole over A
    * alone), so candidates are a-PREFIX rows joined against b's full
    * shingle rows — the probe side is self-limiting (rarest shingles
    * only), the build side is a plain shingle-keyed lookup, and no
    * full-row SELF-join ever happens. The prefix length and the final
    * threshold are both computed in INTEGER space
    * (`inter·100 ≥ pct·n_a`), so no float rounding can flip a boundary
    * pair in either engine.
    *
    * Scale shape: one exchange for the per-doc rank window (shared with
    * the df aggregate's output), candidate volume bounded by prefix-row
    * bucket sizes; verification is in-row `array_intersect` per
    * candidate. At corpus scale the b-side stopword buckets are the
    * pressure point — b rows join at most the prefix rows per shingle,
    * never each other, so a hot shingle costs |prefix_bucket|·|b_bucket|
    * with the prefix bucket rarest-first small by construction.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, pct: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pct > 0 && pct <= 100, s"pct must be in (0,100], got $pct")
    // digest keys, same rationale as [[prefixFilteredJaccardPairs]]
    val sh = digestShingles(shingleRows(df, textCol, idCol, n))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val byId = Window.partitionBy("id")
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("pos", row_number().over(byId.orderBy(col("_df"), col("shingle"))))
      .withColumn("n_sh", count(lit(1)).over(byId))
    // ⌈pct·n/100⌉ = (pct·n + 99) div 100, all BIGINT
    val prefix = ranked
      .where(col("pos") <=
        col("n_sh") - ((lit(pct.toLong) * col("n_sh") + 99) / 100).cast("long") + 1)
      .select(col("id"), col("shingle"))
    val cand = prefix.select(col("shingle"), col("id").as("a"))
      .join(sh.select(col("shingle"), col("id").as("b")), "shingle")
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    val arrs = sh.groupBy(col("id"))
      .agg(sort_array(collect_set(col("shingle"))).as("toks"),
        count(lit(1)).as("n_sh"))
    cand
      .join(arrs.select(col("id").as("a"), col("toks").as("ta"), col("n_sh").as("na")), Seq("a"))
      .join(arrs.select(col("id").as("b"), col("toks").as("tb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .where(col("inter") * 100 >= lit(pct.toLong) * col("na"))
      .select(col("a"), col("b"),
        round(col("inter") / col("na").cast("double"), 6).as("containment"))
  }

  /** MinHash signatures: `numHashes` independent permutations simulated as
    * md5(i || '|' || shingle), taking the lexicographic *string* minimum —
    * any total order over a uniform hash domain is a valid minhash, and the
    * hex-string order is reproducible in every engine (no 64-bit parsing).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    sh.select(col("id"), explode(sequence(lit(0), lit(numHashes - 1))).as("i"),
        col("shingle"))
      .select(col("id"), col("i"),
        md5(concat(col("i").cast("string"), lit("|"), col("shingle"))).as("h"))
      .groupBy(col("id"), col("i"))
      .agg(min(col("h")).as("sig"))

  /** LSH banding: `numBands` bands of `rowsPerBand` signature rows; band
    * signature = md5 of the concatenated member signatures (conditional-agg
    * pivot keeps the concatenation order deterministic).
    */
  def lshBands(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    // a partial last band would md5(concat(.., null)) -> null band_sig and
    // silently contribute zero candidates; reject the misconfiguration
    // here, where every caller passes through
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val pivoted = (0 until rowsPerBand).map(k =>
      max(when(col("i") % rowsPerBand === k, col("sig"))).as(s"s$k"))
    sigs.groupBy(col("id"), (col("i") / rowsPerBand).cast("int").as("band"))
      .agg(pivoted.head, pivoted.tail: _*)
      .select(col("id"), col("band"),
        md5(concat((0 until rowsPerBand).map(k => col(s"s$k")): _*)).as("band_sig"))
  }

  /** One (id, band, band_sig) row per document band — the native
    * MinhashBandSigs expression in ONE narrow projection per document
    * instead of the relational chain's numHashes-fold explode plus two
    * hash aggregations (that chain — minhashSignatures + lshBands —
    * remains the checked reference definition; OpsSpec pins equality).
    */
  def bandSigRows(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), TextOps.words(col(textCol)).as("_w"))
      .select(col("id"),
        posexplode(graft.functions.MinhashExpressions.bandSigs(
          TextOps.shinglesFromWords(col("_w"), shingleN), numHashes, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")

  /** LSH banding-parameter sweep — the tuner that answers "which
    * (bands × rowsPerBand) setting do we run the corpus dedup at?"
    * For every requested rowsPerBand `r` (each dividing `numHashes`),
    * candidates are banded from ONE shared signature table — the
    * r-lattice is a broadcast cross over the (id, i, sig) frame, never
    * a signature recompute — and exact precision/recall are scored
    * against the all-pairs n-gram Jaccard ground truth at
    * `thresholdPct`. Ground truth is quadratic BY DEFINITION, so the
    * caller feeds the same capped corpus the q20-class oracles use;
    * the chosen (bands, r) then applies to the uncapped production
    * banding ([[minhashCandidatePairs]]). All counts and ppm ratios
    * are exact integers; zero-denominator ratios are null, never 0.
    */
  def lshParameterSweep(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 12,
      rOptions: Seq[Int] = Seq(1, 2, 3, 4, 6, 12),
      thresholdPct: Int = 50): DataFrame = {
    require(rOptions.nonEmpty &&
      rOptions.forall(r => r >= 1 && numHashes % r == 0),
      s"every rowsPerBand option must divide numHashes=$numHashes: $rOptions")
    require(thresholdPct > 0 && thresholdPct <= 100)
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleRows(df, textCol, idCol, shingleN)
      .localCheckpoint() // roles: sizes + both truth-join sides + sigs
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    // truth join keys on digests (the string never reaches the output);
    // the minhash signatures below hash the RAW shingles — digesting
    // them would change every signature
    val shD = digestShingles(sh)
    val rel = shD.select(col("shingle"), col("id").as("a"))
      .join(shD.select(col("shingle"), col("id").as("b")), "shingle")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
      .where(lit(100L) * col("inter") >=
        lit(thresholdPct.toLong) * (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"))
      .localCheckpoint() // roles: per-r TP join + the scalar count
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    val rs = rOptions.distinct.sorted.map(_.toLong).toDF("r")
    val bands = minhashSignatures(sh, numHashes)
      .crossJoin(broadcast(rs))
      .groupBy(col("id"), col("r"),
        (col("i") / col("r")).cast("long").as("band"))
      .agg(md5(concat_ws("", transform(
        array_sort(collect_list(struct(col("i"), col("sig")))),
        x => x.getField("sig")))).as("band_sig"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.r") === col("y.r") && col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.id") < col("y.id"))
      .select(col("x.r").as("r"), col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
      .localCheckpoint() // roles: candidate count + TP join
    val nCand = cand.groupBy("r").agg(count(lit(1)).as("n_candidates"))
    val nTp = cand.join(rel, Seq("a", "b"))
      .groupBy("r").agg(count(lit(1)).as("n_tp"))
    rs.join(nCand, Seq("r"), "left").join(nTp, Seq("r"), "left")
      .crossJoin(broadcast(nRel))
      .select(col("r"), expr(s"$numHashes div r").as("n_bands"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_relevant"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"))
      .select(col("r"), col("n_bands"), col("n_candidates"),
        col("n_relevant"), col("n_tp"),
        when(col("n_candidates") > 0,
          expr("(1000000 * n_tp) div n_candidates")).as("precision_ppm"),
        when(col("n_relevant") > 0,
          expr("(1000000 * n_tp) div n_relevant")).as("recall_ppm"))
  }

  /** Dedup-threshold sweep — the "how aggressive do we dedup?" knob
    * report: for every Jaccard threshold τ on the lattice, the exact
    * qualifying-pair count and the corpus cost of removing them under
    * the keep-smallest-id pairwise rule (a document is removed iff it
    * has a smaller-id partner at ≥ τ — the greedy bound; transitive
    * clusters can only remove MORE, so this is the floor the
    * connected-components pass ([[duplicateClusters]]) is judged
    * against, stated per τ without running CC |lattice| times).
    * Ground truth is all-pairs exact Jaccard — quadratic by
    * definition, so feed the capped corpus (the q20/q375 discipline).
    *
    * All integers: pair predicate is the exact cross-multiplied
    * `100·inter ≥ τ·union`, removal ppm is truncating against the
    * corpus token total.
    */
  def dedupThresholdSweep(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3,
      thresholds: Seq[Int] = Seq(30, 50, 70, 80, 90)): DataFrame = {
    require(thresholds.nonEmpty &&
      thresholds.forall(t => t > 0 && t <= 100))
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.ops.TextOps.wsTokenCount(col(textCol)).as("n_tok"))
      .localCheckpoint() // roles: corpus totals + removed-token join
    val totals = base.agg(count(lit(1)).as("corpus_docs"),
      sum("n_tok").as("corpus_tokens"))
    val sh = digestShingles(shingleRows(df, textCol, idCol, shingleN))
      .localCheckpoint() // roles: sizes + both sides of the pair join
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val taus = thresholds.distinct.sorted.map(_.toLong).toDF("tau")
    val qual = sh.select(col("shingle"), col("id").as("a"))
      .join(sh.select(col("shingle"), col("id").as("b")), "shingle")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
      .crossJoin(broadcast(taus))
      .where(lit(100L) * col("inter") >=
        col("tau") * (col("na") + col("nb") - col("inter")))
      .localCheckpoint() // roles: pair count + removed-doc rollup
    val nPairs = qual.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
    val removed = qual.select(col("tau"), col("b").as("id")).distinct()
      .join(base, "id")
      .groupBy("tau")
      .agg(count(lit(1)).as("n_removed_docs"),
        sum("n_tok").as("removed_tokens"))
    taus.join(nPairs, Seq("tau"), "left").join(removed, Seq("tau"), "left")
      .crossJoin(broadcast(totals))
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_removed_docs"), lit(0L)).as("n_removed_docs"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        col("corpus_docs"), col("corpus_tokens"),
        when(col("corpus_tokens") > 0,
          expr("(1000000 * coalesce(removed_tokens, 0))" +
            " div corpus_tokens")).as("removed_ppm"))
  }

  /** MinHash+LSH candidate pairs (a < b): ids sharing any band bucket.
    *
    * `maxBucket` < MaxValue caps every band bucket's document frequency
    * before the self-join ([[pruneHotKeys]] on (band, band_sig)) — a corpus
    * with 10⁵ byte-identical documents otherwise lands them all in ONE
    * bucket per band, a quadratic task no banding parameter can shrink. A
    * bucket hot in one band (a boilerplate collision) loses only that
    * band's vote — the other bands preserve recall. A doc set hot in EVERY
    * band is exact-duplicate-level identical, which [[deduped]]
    * (exact-dedup-first, the documented precondition at scale) collapses
    * before LSH ever runs; the cap is the backstop that keeps the join
    * bounded when that precondition is violated.
    */
  def minhashCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val bands = pruneHotKeys(
      bandSigRows(df, textCol, idCol, shingleN, numHashes, rowsPerBand),
      Seq("band", "band_sig"), maxBucket)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** The production near-dup composition at scale: MinHash+LSH candidate
    * generation (cost ∝ Σ bucket²) followed by EXACT n-gram Jaccard
    * verification computed only for the candidate pairs — never all
    * pairs. Intersections come from joining each candidate against the
    * two documents' shingle rows on shingle equality; sizes are per-doc
    * counts (broadcast-or-shuffle left to the optimizer). Precision is
    * exact; recall is the LSH banding's.
    */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = Int.MaxValue): DataFrame = {
    val cand = minhashCandidatePairs(df, textCol, idCol, shingleN,
      numHashes, rowsPerBand, maxBucket)
    // the shingle subtree feeds three consumers (the size aggregate and
    // both sides of the intersection join) and is deliberately NOT
    // materialized: a localCheckpoint here was measured 27% SLOWER on
    // the q61 pipeline (min 1.80 s → 2.29 s at sf0.1) — the subtree is
    // a narrow scan+split+explode that recomputes cheaper than its
    // materialization writes, and checkpointing breaks pipelining into
    // the joins. (connectedComponents still checkpoints the VERIFIED
    // pair set, which its iterations would otherwise re-derive per
    // round through this whole chain.) Verification keys on
    // [[digestShingles]]' 64-bit digests — the intersection join's
    // shuffle never carries an n-gram string.
    val sh = digestShingles(shingleRows(df, textCol, idCol, shingleN))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.as("x"), col("a") === col("x.id"))
      .join(sh.as("y"),
        col("b") === col("y.id") && col("x.shingle") === col("y.shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    jaccardScored(inter, sizes, threshold)
  }

  /** Train/eval decontamination, long-n-gram overlap style: for every
    * document in `evalSplit`, count the DISTINCT `n`-grams it shares
    * with ANY `trainSplit` document — a nonzero count means eval
    * content leaked into training data (or vice versa) and the eval
    * score is compromised. Long n-grams (default 13) make accidental
    * collisions essentially impossible, so any hit is real overlap;
    * `maxDocFreq` prunes boilerplate n-grams held by more than that
    * many documents before the cross join, the same hot-key bound as
    * the dedup family. Returns (id, n_shared) for contaminated eval
    * docs only.
    */
  def contamination(df: DataFrame, textCol: String, idCol: String,
      splitCol: String, trainSplit: String, evalSplit: String, n: Int = 13,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // join/count on a 64-bit md5 prefix of the n-gram, not the raw
    // string: a 13-gram is ~80 bytes and the join shuffles every
    // occurrence of both splits — hashing shrinks shuffle keys and the
    // distinct aggregation ~5x (measured 13 s → join-bound no more at
    // the bench SF). n_shared counts distinct HASHES: at 64 bits a
    // collision among millions of n-grams is ~1e-7, and the oracle
    // hashes identically, so the compare is exact either way.
    val base = pruneHotKeys(
      df.select(col(idCol).as("id"), col(splitCol).as("split"),
          TextOps.words(col(textCol)).as("_w"))
        .select(col("id"), col("split"),
          explode(TextOps.shinglesFromWords(col("_w"), n)).as("gram")),
      "gram", maxDocFreq)
      .select(col("id"), col("split"),
        substring(md5(col("gram")), 1, 16).as("shingle"))
    base.as("e").where(col("e.split") === evalSplit)
      .join(base.as("t").where(col("t.split") === trainSplit),
        col("e.shingle") === col("t.shingle"))
      .groupBy(col("e.id").as("id"))
      .agg(countDistinct(col("e.shingle")).as("n_shared"))
  }

  /** Contamination ATTRIBUTION — [[contamination]] answers "is this
    * eval doc leaked?"; this answers "WHICH train document leaked it":
    * per eval doc, the single best-matching train doc by distinct
    * shared-n-gram recall (ROUGE-N recall against the eval doc's own
    * n-gram set, the graded score a binary overlap flag flattens).
    * Ties pin to the smallest train id; eval docs with NO overlap stay
    * in the ledger as a (null train, 0 recall) row — the audit must
    * account for every eval doc, not just the dirty ones.
    *
    * Scale: one gram-keyed equi-join (each side distinct per doc, the
    * [[shingleRows]] contract), grouped per (eval, train) pair with
    * map-side combine, then a per-eval top-1 window — a
    * `row_number ≤ 1` WindowGroupLimit, map-side pruned. `maxDocFreq`
    * is the [[pruneHotKeys]] boilerplate bound applied to the TRAIN
    * side's gram df BEFORE the join (and mirrored onto the eval side
    * so recall denominators stay comparable); the default keeps exact
    * ROUGE semantics for oracle-checkable corpora.
    */
  def contaminationAttribution(evalDf: DataFrame, trainDf: DataFrame,
      textCol: String, idCol: String, n: Int = 2,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val eg0 = shingleRows(evalDf, textCol, idCol, n)
    val tg0 = shingleRows(trainDf, textCol, idCol, n)
    val (eg, tg) =
      if (maxDocFreq == Int.MaxValue) (eg0, tg0)
      else {
        val hot = tg0.groupBy("shingle")
          .agg(count(lit(1)).as("_df"))
          .where(col("_df") > maxDocFreq)
          .select("shingle") // bounded: ultra-common grams only
        (eg0.join(broadcast(hot), Seq("shingle"), "left_anti"),
          tg0.join(broadcast(hot), Seq("shingle"), "left_anti"))
      }
    val egCk = eg.localCheckpoint() // roles: sizes + join side
    val sizes = egCk.groupBy("id").agg(count(lit(1)).as("n_eval_ngrams"))
    val best = egCk.select(col("id").as("eval_id"), col("shingle"))
      .join(tg.select(col("id").as("train_id"), col("shingle")), "shingle")
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("eval_id")
          .orderBy(col("n_shared").desc, col("train_id"))))
      .where(col("rn") === 1)
      .select(col("eval_id"), col("train_id"), col("n_shared"))
    sizes.select(col("id").as("eval_id"), col("n_eval_ngrams"))
      .join(best, Seq("eval_id"), "left")
      .select(col("eval_id"), col("train_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_eval_ngrams"),
        expr("(1000000 * coalesce(n_shared, 0)) div n_eval_ngrams")
          .as("recall_ppm"))
  }

  /** [[contamination]] upgraded from boolean overlap to overlap EXTENT —
    * the signals real decontamination policies threshold on. Per
    * contaminated eval doc:
    *   - `n_hits`: eval n-gram positions whose gram appears anywhere in
    *     the train split (positional, so a gram repeating inside the
    *     eval doc counts each occurrence);
    *   - `max_shared_len`: longest contiguous shared stretch in WORDS —
    *     a run of `r` consecutive shared positions means every n-window
    *     of an (n + r − 1)-word span appears in train, the strongest
    *     contiguity guarantee n-gram evidence supports;
    *   - `covered_frac`: fraction of the doc's words covered by the
    *     union of shared n-gram intervals (the GPT-3-style "dirty token"
    *     fraction) — intervals overlap, so coverage is a sweep
    *     (`min(n, pos − prev)` per sorted hit), not `Σ run + n − 1`.
    *
    * Plan: train grams collapse to a distinct 64-bit digest set; eval
    * positions semi-join it (never carrying gram text); the per-doc fold
    * runs over each doc's SORTED hit positions — one exchange of hit
    * positions only, then a narrow `aggregate` HOF computing run length,
    * best run, and interval-union coverage in a single pass.
    * `maxDocFreq` here bounds positional occurrences (a boilerplate gram
    * repeated inside one giant doc is as hot as one shared across docs).
    */
  def contaminationSpans(df: DataFrame, textCol: String, idCol: String,
      splitCol: String, trainSplit: String, evalSplit: String, n: Int = 13,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val grams = pruneHotKeys(
      df.select(col(idCol).as("id"), col(splitCol).as("split"),
          TextOps.words(col(textCol)).as("_w"))
        .select(col("id"), col("split"), size(col("_w")).as("n_words"), col("_w"))
        .where(size(col("_w")) >= n)
        .select(col("id"), col("split"), col("n_words"),
          posexplode(transform(sequence(lit(0), size(col("_w")) - n),
            i => concat_ws(" ", slice(col("_w"), i + 1, lit(n))))))
        .withColumnRenamed("col", "gram"),
      "gram", maxDocFreq)
      .select(col("id"), col("split"), col("n_words"), col("pos"),
        substring(md5(col("gram")), 1, 16).as("h"))
    val trainGrams = grams.where(col("split") === trainSplit)
      .select(col("h")).distinct()
    val hits = grams.where(col("split") === evalSplit)
      .join(trainGrams, Seq("h"), "left_semi")
      .select(col("id"), col("n_words"), col("pos"))
    val nL = lit(n.toLong)
    val st0 = struct(lit(0).as("run"), lit(0).as("best"),
      lit(0L).as("cov"), lit(-1).as("prev"))
    hits.groupBy(col("id"), col("n_words"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("_a", aggregate(col("ps"), st0, (st, p) => {
        val prev = st.getField("prev")
        val run = when(p - prev === 1, st.getField("run") + 1).otherwise(lit(1))
        val add = when(prev < 0, nL)
          .otherwise(least(nL, (p - prev).cast("long")))
        struct(run.as("run"),
          greatest(st.getField("best"), run).as("best"),
          (st.getField("cov") + add).as("cov"),
          p.as("prev"))
      }))
      .select(col("id"),
        size(col("ps")).cast("long").as("n_hits"),
        (col("_a.best") + lit(n - 1)).cast("long").as("max_shared_len"),
        (col("_a.cov").cast("double") / col("n_words")).as("covered_frac"))
  }

  /** The removal policy [[contaminationSpans]] measures for: per EVAL
    * document, splice out every token covered by a train-shared n-gram
    * interval and reassemble the remainder — GPT-3-style "dirty
    * window" removal, so a leaked benchmark passage disappears while
    * the rest of the document keeps training. Uncontaminated eval docs
    * pass through whole (including docs shorter than one n-gram).
    *
    * Plan: the hit positions are the SAME digest-semi-join as
    * contaminationSpans (train grams shuffle only as distinct 64-bit
    * digests); removal itself is a narrow in-row pass — a two-arg
    * `filter` lambda testing each token index against the doc's sorted
    * hit positions (`exists` over a per-doc array bounded by hit
    * count). One aggregate exchange on (id), nothing quadratic.
    */
  def decontaminateText(df: DataFrame, textCol: String, idCol: String,
      splitCol: String, trainSplit: String, evalSplit: String, n: Int = 13,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val grams = pruneHotKeys(
      df.select(col(idCol).as("id"), col(splitCol).as("split"),
          TextOps.words(col(textCol)).as("_w"))
        .where(size(col("_w")) >= n)
        .select(col("id"), col("split"),
          posexplode(transform(sequence(lit(0), size(col("_w")) - n),
            i => concat_ws(" ", slice(col("_w"), i + 1, lit(n))))))
        .withColumnRenamed("col", "gram"),
      "gram", maxDocFreq)
      .select(col("id"), col("split"), col("pos"),
        substring(md5(col("gram")), 1, 16).as("h"))
    val trainGrams = grams.where(col("split") === trainSplit)
      .select(col("h")).distinct()
    val perDoc = grams.where(col("split") === evalSplit)
      .join(trainGrams, Seq("h"), "left_semi")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
    df.where(col(splitCol) === evalSplit)
      .select(col(idCol).as("id"), TextOps.words(col(textCol)).as("_w"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("_w"),
        coalesce(col("_ps"), array()).as("_ps"))
      .withColumn("_kept", filter(col("_w"), (t, i) =>
        !exists(col("_ps"), p => i >= p && i <= p + (n - 1))))
      .select(col("id"),
        concat_ws(" ", col("_kept")).as("clean_text"),
        (size(col("_w")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Shared verification tail of the cross-corpus paths: exact Jaccard
    * between each candidate's batch-side and corpus-side shingle sets.
    */
  private def crossVerified(cand: DataFrame, batch: DataFrame,
      corpus: DataFrame, textCol: String, idCol: String, shingleN: Int,
      threshold: Double): DataFrame = {
    val shA = digestShingles(shingleRows(batch, textCol, idCol, shingleN))
    val shB = digestShingles(shingleRows(corpus, textCol, idCol, shingleN))
    val inter = cand
      .join(shA.as("x"), col("a") === col("x.id"))
      .join(shB.as("y"),
        col("b") === col("y.id") && col("x.shingle") === col("y.shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    jaccardScored(inter,
      shA.groupBy(col("id")).agg(count(lit(1)).as("n_sh")),
      shB.groupBy(col("id")).agg(count(lit(1)).as("n_sh")), threshold)
  }

  /** Cross-corpus near-dup pairs (a = batch id, b = corpus id): LSH band
    * candidates between the two corpora, exact Jaccard verification on
    * candidates only — the INGEST question ("is this new document a
    * near-dup of anything we already accepted?") rather than the
    * within-corpus self-join. At scale the batch side is orders of
    * magnitude smaller than the corpus, so the candidate join broadcasts
    * the batch bands over one scan of the corpus bands; verification
    * shingles only the matched documents of each side.
    */
  def crossCorpusNearDupPairs(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, shingleN: Int = 3, numHashes: Int = 12,
      rowsPerBand: Int = 3, threshold: Double = 0.8): DataFrame =
    crossVerified(
      crossCandidates(
        bandSigRows(batch, textCol, idCol, shingleN, numHashes, rowsPerBand),
        bandSigRows(corpus, textCol, idCol, shingleN, numHashes, rowsPerBand)),
      batch, corpus, textCol, idCol, shingleN, threshold)

  private def crossCandidates(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
    batchBands.as("x").join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

  /** Materialize the accepted corpus's band signatures as the near-dup
    * INDEX: one (id, band, band_sig) parquet, computed once at corpus
    * build instead of re-deriving every corpus document's signatures on
    * every ingest batch (at 100 TB the re-derivation — tokenize +
    * shingle + hash the whole corpus — dwarfs the ingest itself).
    */
  def buildNearDupIndex(corpus: DataFrame, textCol: String, idCol: String,
      path: String, shingleN: Int = 3, numHashes: Int = 12,
      rowsPerBand: Int = 3): Unit =
    bandSigRows(corpus, textCol, idCol, shingleN, numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(path)

  /** Extend the index with newly ACCEPTED documents (append-only: band
    * rows are per-document facts, so no merge is needed — the ingest
    * loop appends each batch's keepers after [[dedupBatchAgainstIndex]]
    * admits them, and the next batch is checked against them too).
    */
  def appendToNearDupIndex(accepted: DataFrame, textCol: String, idCol: String,
      path: String, shingleN: Int = 3, numHashes: Int = 12,
      rowsPerBand: Int = 3): Unit =
    bandSigRows(accepted, textCol, idCol, shingleN, numHashes, rowsPerBand)
      .write.mode("append").parquet(path)

  /** Cross-corpus pairs against a [[buildNearDupIndex]] table: candidate
    * generation reads the stored band rows (no corpus re-derivation);
    * verification joins back to `corpusDocs` for the MATCHED ids only.
    */
  def crossCorpusNearDupPairsIndexed(batch: DataFrame, corpusDocs: DataFrame,
      indexPath: String, textCol: String, idCol: String, shingleN: Int = 3,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.8): DataFrame =
    crossVerified(
      crossCandidates(
        bandSigRows(batch, textCol, idCol, shingleN, numHashes, rowsPerBand),
        batch.sparkSession.read.parquet(indexPath)),
      batch, corpusDocs, textCol, idCol, shingleN, threshold)

  /** The incremental-ingest admission step: batch documents with NO
    * near-dup in the indexed corpus. (Within-batch duplicates are the
    * existing [[dedupedByClusters]] composition — run it first, then
    * admit survivors here and [[appendToNearDupIndex]] them.)
    */
  def dedupBatchAgainstIndex(batch: DataFrame, corpusDocs: DataFrame,
      indexPath: String, textCol: String, idCol: String, shingleN: Int = 3,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val dupes = crossCorpusNearDupPairsIndexed(batch, corpusDocs, indexPath,
      textCol, idCol, shingleN, numHashes, rowsPerBand, threshold)
      .select(col("a")).distinct()
    batch.join(dupes, batch(idCol) === dupes("a"), "left_anti")
  }

  /** Connected components over a near-dup pair list: every document gets
    * the minimum id of its duplicate cluster as `cluster` — the "keep one
    * per duplicate CLUSTER" step that follows pair generation in a dedup
    * pipeline (pairs alone under-delete: A≈B and B≈C must collapse to one
    * keeper even when A≉C directly).
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the same
    * choice GraphFrames makes), which rewrites the EDGE set each round
    * until it is a star forest rooted at each component's minimum id.
    * Large-star: every node points its strictly-larger neighbors at the
    * minimum of its closed neighborhood; small-star: every node points
    * its ≤-neighbors (and itself) at that minimum. Each phase preserves
    * connectivity, never grows the edge count, and the alternation
    * converges in O(log² n) rounds REGARDLESS of graph diameter —
    * the property that matters: plain min-label propagation (this
    * function's previous life) is Θ(diameter) rounds and hit the
    * 50-round wall on q161's percolated DBSCAN ε-graph at sf0.1, and
    * even label-table pointer-jumping stalls there, because a vertex's
    * best-known label is typically a locally-minimal id whose own label
    * never improves (measured: ~20 labels/round still moving at round
    * 60). Star rewrites move whole SUBTREES per round, not frontier
    * vertices — the same graph converges in 8 alternations.
    *
    * Mechanics per round: ONE action. Both star phases are composed into
    * a single lazy plan — the two references to the large-star edge set
    * inside the small-star construction are identical subtrees, so
    * Spark's exchange reuse executes the large-star shuffle once — and
    * the round's only materialization is the stats-free eager
    * checkpoint ([[graft.Checkpoint]]) of the small-star output, so
    * neither lineage nor carried size estimates compound across rounds.
    * Convergence is detected by an order-independent (count, xor-of-hash)
    * fingerprint of the edge set, collected for FREE during that same
    * checkpoint via `observe` (a `CollectMetricsExec` accumulator — no
    * separate job); equal fingerprints across one alternation are
    * confirmed by a single exact `except` probe. Shallow dedup-cluster
    * graphs (1-2 alternations) therefore pay 2-3 driver round-trips
    * total, versus 3 per round in the previous ls-checkpoint +
    * ss-checkpoint + fingerprint-job shape. Only ids appearing in
    * `pairs` are returned — singletons are their own keeper by
    * definition.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // materialize the pair set FIRST: the id/edge derivations below
    // reference `pairs` repeatedly, so an unmaterialized upstream (the
    // whole LSH candidate+verify chain in the dedup pipeline composition)
    // would otherwise re-run per reference
    val p = pairs.select(col("a"), col("b"))
      .where(col("a") =!= col("b")).localCheckpoint(true)
    connectedComponentsLabels(p, starForest(p, maxIter))
  }

  /** The alternating-star loop: reduces checkpointed pair set `p` to its
    * converged star-forest edge set (every non-root → component min).
    */
  private def starForest(p: DataFrame, maxIter: Int): DataFrame = {
    // Edge-SET fingerprint: the checkpoint's row count + an order-free XOR
    // of a per-edge 64-bit hash. `bit_xor` is exactly associative and
    // commutative and cannot overflow (unlike `sum` under ANSI), so the
    // pair is a deterministic set digest. It is collected as a metric
    // DURING the eager checkpoint's own job (CollectMetricsExec is an
    // accumulator in the scan, reported on the action's SQL-execution
    // end) — zero extra jobs per round. Equality across one alternation
    // is (almost-surely) the fixpoint; the one exact probe below makes
    // it a proof, and a hash collision merely costs one extra round.
    def checkpointWithFingerprint(df: DataFrame) =
      graft.Checkpoint(df, expr("bit_xor(xxhash64(a, b))").as("h"))
    // canonical hi→lo orientation; both star phases preserve it. This
    // first materialization runs under the session's own AQE setting —
    // it consumes the (possibly large, possibly skewed) checkpointed
    // pair list, exactly where adaptive execution earns its keep.
    var (e, fpE) = checkpointWithFingerprint(
      p.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b")).distinct())
    // NOTE (measured, round 9): running this loop with AQE disabled —
    // whether at the session's shuffle parallelism or with partitions
    // hand-sized to the known edge count — is 1.3-1.9× SLOWER at sf0.1
    // than letting AQE fire one job per query stage (q61 1.5→2.8 s,
    // q161 5.6→7.0 s min-of-3), despite cutting the job count 3×. The
    // per-stage jobs overlap in the scheduler; the serialized
    // single-partition stages don't. AQE stays on.
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: u's strictly-larger neighbors all point at the min of
      // u's closed neighborhood (edges emitted (v > u, m ≤ u): hi→lo)
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val lsMin = sym.groupBy("u").agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      // no distinct here: duplicate (v, m) rows (several u-neighbors of v
      // sharing a min) are never MORE rows than `e` itself, the groupBy
      // below combines them map-side, and the final distinct on `ss`
      // removes the survivors — a whole shuffle saved per round
      val ls = sym.join(lsMin, "u").where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      // small-star: u's ≤-neighbors (and u itself) all point at their min
      // (ls is hi→lo, so grouping by the hi endpoint IS Γ⁻(u)). `ls` is
      // deliberately NOT materialized: both references below are
      // identical subtrees in one job, so exchange reuse runs the
      // large-star shuffle once — the whole alternation is a single
      // action (the checkpoint), not three.
      val ssMin = ls.groupBy("a").agg(min(col("b")).as("m"))
      val (ss, fpS) = checkpointWithFingerprint(
        ls.join(ssMin, "a")
          .where(col("b") =!= col("m"))
          .select(col("b").as("a"), col("m").as("b"))
          .union(ssMin.select(col("a"), col("m").as("b")))
          .distinct())
      // converged ⇔ the edge set is unchanged. Cheap test first
      // (fingerprint equality, already in hand); exact confirmation
      // once: both sides are distinct sets of equal cardinality, so an
      // empty one-sided except proves set equality.
      converged = fpS == fpE && ss.exceptAll(e).isEmpty
      e = ss
      fpE = fpS
      iter += 1
    }
    // an unconverged state means WRONG labels (stars still merging) —
    // fail loudly rather than return a plausible answer
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter alternations " +
      "(edge set still changing) — raise maxIter")
    e
  }

  /** [[starForest]]'s edges as the public (id, cluster) label table.
    * Split out so the loop body can run under its own conf scope.
    */
  private def connectedComponentsLabels(p: DataFrame, e: DataFrame): DataFrame = {
    val ids = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id"))).distinct()
    ids.join(e.select(col("a").as("id"), col("b").as("cluster")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Keep one document per duplicate cluster: drops every id that belongs
    * to a cluster but is not its minimum ([[connectedComponents]] labels).
    * Ids absent from `pairs` are singletons and always kept — the final
    * step of the pair → cluster → keeper dedup chain.
    */
  def dedupedByClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val dupes = connectedComponents(pairs, maxIter)
      .where(col("id") =!= col("cluster"))
    df.join(dupes, df(idCol) === dupes("id"), "left_anti")
  }

  /** Character-level near-dup pairs: MinHash+LSH candidates verified by
    * EDIT-DISTANCE RATIO — `levenshtein(a,b) · 10⁶ ≤ maxRatioPpm ·
    * max(len)` as a pure integer comparison. The third verify axis of
    * the near-dup family: token-Jaccard ([[minhashNearDupPairs]]) misses
    * dense single-character noise (OCR artifacts, mojibake) that barely
    * moves any one shingle set but is obvious in char space, and
    * simhash's bit distance doesn't localize edits. Candidates still
    * come from the banded LSH join (cost ∝ Σ bucket², `maxBucket`
    * discipline) — levenshtein's O(len²) DP runs per CANDIDATE, never
    * per pair, and only on docs the banding already co-bucketed.
    * Returns (a, b, dist, max_len).
    */
  def editRatioNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxRatioPpm: Long, shingleN: Int = 3, numHashes: Int = 12,
      rowsPerBand: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    val cand = minhashCandidatePairs(df, textCol, idCol, shingleN,
      numHashes, rowsPerBand, maxBucket)
    val t = df.select(col(idCol).as("id"), col(textCol).as("t"))
    cand
      .join(t.select(col("id").as("a"), col("t").as("ta")), "a")
      .join(t.select(col("id").as("b"), col("t").as("tb")), "b")
      .select(col("a"), col("b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long")
          .as("max_len"))
      .where(col("dist") * 1000000L <= lit(maxRatioPpm) * col("max_len"))
  }

  /** EXACT-SUBSTRING dedup (the Lee-et-al-style character-level
    * complement to the n-gram detect→excise chain): for each MinHash+LSH
    * candidate pair, the LONGEST SHARED SUBSTRING via sorted-suffix
    * blocks. All suffixes of both documents, tagged by side, totally
    * ordered WITHIN the pair; the pair's LCS is the max LCP over
    * ADJACENT cross-side entries — the standard suffix-array argument:
    * LCP(i,j) over a sorted block is the min of the adjacent LCPs
    * between them, and any optimal cross-side range contains a tag flip,
    * so some adjacent cross pair attains the optimum. Suffix ordering
    * runs per CANDIDATE pair, never corpus-wide (the maxBucket
    * discipline bounds the block).
    *
    * LCP itself is first-mismatch algebra, O(len) per adjacency, shared
    * verbatim by the oracle: `min{k : p[k] ≠ q[k]} − 1`, else the
    * shorter length — single-char probes, no quadratic prefix rescans.
    * Suffixes materialize capped at `maxReport` chars, so per-pair bytes
    * are O(len·maxReport), not O(len²), and reported lengths SATURATE at
    * `maxReport` (a pair sharing that much is a certain dup; the cap is
    * the scale knob). Ties on length break to the lexicographically
    * smallest shared substring. Returns `(a, b, lcs_len, shared)` for
    * pairs with lcs_len ≥ minLen.
    */
  def exactSubstringPairs(df: DataFrame, textCol: String, idCol: String,
      minLen: Int, shingleN: Int = 3, numHashes: Int = 12,
      rowsPerBand: Int = 3, maxBucket: Int = Int.MaxValue,
      maxReport: Int = 256): DataFrame = {
    require(minLen >= 1 && maxReport >= minLen)
    val cand = minhashCandidatePairs(df, textCol, idCol, shingleN,
      numHashes, rowsPerBand, maxBucket)
    val t = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val pt = cand
      .join(t.select(col("id").as("a"), col("t").as("ta")), "a")
      .join(t.select(col("id").as("b"), col("t").as("tb")), "b")
    def side(tag: Int, tc: String) = pt
      .select(col("a"), col("b"),
        explode(sequence(lit(1), length(col(tc)))).as("i"), col(tc))
      .select(col("a"), col("b"), lit(tag).as("side"),
        expr(s"substring($tc, i, $maxReport)").as("suf"))
    val su = side(0, "ta").unionByName(side(1, "tb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b").orderBy(col("suf"), col("side"))
    val adj = su
      .withColumn("p", lag("suf", 1).over(w))
      .withColumn("ps", lag("side", 1).over(w))
      .where(col("ps").isNotNull && col("ps") =!= col("side"))
      .select(col("a"), col("b"),
        expr("""coalesce(
            array_min(filter(sequence(1, least(length(p), length(suf))),
              k -> substring(p, k, 1) != substring(suf, k, 1))) - 1,
            least(length(p), length(suf)))""").cast("long").as("lcp"),
        col("suf"))
    adj
      .withColumn("shared", expr("substring(suf, 1, lcp)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("a", "b").orderBy(col("lcp").desc, col("shared"))))
      .where(col("rn") === 1 && col("lcp") >= minLen)
      .select(col("a"), col("b"), col("lcp").as("lcs_len"), col("shared"))
  }

  /** SOFT dedup: keep every document, down-weight duplicates so each
    * near-dup cluster contributes one document's worth of sampling mass
    * — `w_ppm = 1_000_000 div cluster_size` (truncating integer
    * division, exact on both engines; singletons keep the full million).
    * The alternative to [[dedupedByClusters]]'s hard drop when the
    * training-mix recipe wants duplicates represented but not
    * over-counted (repeated data ≈ up-weighted data, so the inverse
    * weight neutralizes it); the weight column feeds the q129/q77
    * weighted-sampling lattice downstream.
    *
    * Cost over the pair list: one CC run + one count aggregate + one
    * broadcast-out join back to the corpus — the corpus itself is never
    * shuffled (cluster tables are ≤ |pairs| rows).
    */
  def softDedupWeights(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val cc = connectedComponents(pairs, maxIter)
    val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
    val weighted = cc.join(sizes, Seq("cluster"))
    df.join(weighted, df(idCol) === weighted("id"), "left")
      .select(df(idCol),
        coalesce(col("cluster"), df(idCol)).as("cluster"),
        coalesce(col("cluster_n"), lit(1L)).as("cluster_n"),
        expr("1000000 div coalesce(cluster_n, 1)").cast("long").as("w_ppm"))
  }

  /** SimHash near-dup pairs via multi-index Hamming search: the digest is
    * split into `bands` equal slices; two digests within Hamming distance
    * < `bands` must share at least one identical slice (pigeonhole), so a
    * bucket join on (band, slice) generates candidates with FULL recall
    * for `maxDist < bands`, and an exact `bit_count(xor)` filter
    * verifies. Returns (a < b, hamming). Shared banded-search tail of the
    * 16-bit and 64-bit public variants.
    */
  private def simhashBandedPairs(df: DataFrame, textCol: String,
      idCol: String, digest: Column => Column, digestBits: Int,
      maxDist: Int, bands: Int): DataFrame = {
    require(0 <= maxDist && maxDist < bands,
      s"recall guarantee needs maxDist ($maxDist) < bands ($bands)")
    require(digestBits % bands == 0,
      s"bands ($bands) must divide $digestBits")
    val bits = digestBits / bands
    val mask = (1L << bits) - 1
    // arithmetic vs logical shift is immaterial under the mask: the low
    // `bits` bits of both agree for every shift ≤ digestBits - bits, so a
    // negative 64-bit digest (MSB set) slices identically in any engine
    val sl = df
      .select(col(idCol).as("id"), digest(col(textCol)).as("h"))
      .select(col("id"), col("h"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("slice",
        expr(s"shiftright(h, cast(band * $bits as int)) & $mask"))
    sl.as("x").join(sl.as("y"),
        col("x.band") === col("y.band") && col("x.slice") === col("y.slice") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.h").as("ha"), col("y.h").as("hb"))
      .distinct()
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** 16-bit banded Hamming search — the oracle-checked small kernel. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 2, bands: Int = 4): DataFrame =
    simhashBandedPairs(df, textCol, idCol, simhash16, 16, maxDist, bands)

  /** 64-bit banded Hamming search — the production configuration: 16-bit
    * slices give 65k buckets per band, so bucket sizes stay bounded at
    * corpus scale where the 16-bit digest's 4-bit slices (16 buckets)
    * degenerate into giant candidate buckets. Same pigeonhole recall law
    * (full recall for maxDist < bands).
    */
  def simhashNearDupPairs64(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, bands: Int = 4): DataFrame =
    simhashBandedPairs(df, textCol, idCol, simhash64, 64, maxDist, bands)

  /** SimHash as a pure-Column HOF fold: the token array folds into `bits`
    * signed bit-counters (md5-derived bits), then the digest re-assembles.
    * Bit b of a token's hash: value of md5 hex char at position b/4, bit
    * (3 - b%4) — extracted with integer shifts only (no floating point
    * anywhere, so the digest is exact at any width).
    *
    * This is the REFERENCE implementation: portable, engine-checkable,
    * and the definition the SQL oracle mirrors — but it evaluates ~bits
    * interpreted lambdas per token. The public [[simhash16]]/[[simhash64]]
    * use the native [[graft.functions.SimhashDigest]] expression (one
    * tight JVM loop per row, whole-stage-codegen-friendly, measured ~25×
    * at 64 bits); OpsSpec pins their bit-equality so the two can never
    * drift.
    */
  private[ops] def simhashBitsHof(text: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 64 && bits % 4 == 0, s"bad digest width $bits")
    val counters = aggregate(
      TextOps.words(text),
      array_repeat(lit(0L), bits),
      (acc, tok) => {
        val h = md5(tok)
        // parse each hex nibble ONCE and fan out its 4 bits — bits/4
        // substring+conv evaluations per token instead of one per bit
        // (measured ~4x on the 64-bit digest); bit order is unchanged:
        // nibble p contributes digest bits 4p..4p+3, high bit first
        val tokBits = flatten(transform(
          sequence(lit(0), lit(bits / 4 - 1)), p => {
            val v = conv(substring(h, p.cast("int") + 1, lit(1)), 16, 10)
              .cast("long")
            array(
              call_function("shiftright", v, lit(3)) % 2,
              call_function("shiftright", v, lit(2)) % 2,
              call_function("shiftright", v, lit(1)) % 2,
              v % 2)
          }))
        zip_with(acc, tokBits, (a, bit) => a + (bit * 2 - 1))
      })
    // bit b contributes 2^(bits-1-b); for bits = 64 the MSB term is
    // 1L << 63 = Long.MinValue — the two's-complement value of "bit 63
    // set", exact here and spelled the same way in the SQL oracle (whose
    // integer engine rejects 1 << 63)
    aggregate(
      zip_with(counters, sequence(lit(0), lit(bits - 1)),
        (c, b) => when(c > 0,
          call_function("shiftleft", lit(1L), (lit(bits - 1) - b).cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** 16-bit SimHash digest (native kernel; [[simhashBitsHof]] is the
    * checked reference definition).
    */
  def simhash16(text: Column): Column =
    graft.functions.SimhashExpressions.simhash(TextOps.words(text), 16)

  /** 64-bit SimHash digest — the production width ([[simhashNearDupPairs64]]). */
  def simhash64(text: Column): Column =
    graft.functions.SimhashExpressions.simhash(TextOps.words(text), 64)

  /** Bloom-prefiltered novelty admission: the rows of `batch` whose
    * `keyCol` never occurs in `corpus` — the result is EXACT (identical
    * to a plain anti-join); the Bloom filter is a pure pruning layer.
    *
    * Why this shape at 100 TB: admitting a small batch against a huge
    * seen-corpus with a bare anti-join shuffles (or at best probes) every
    * batch row against the corpus key set. Here the corpus keys fold into
    * a Bloom filter via Spark's own `BloomFilterAggregate` — a partial
    * aggregate, map-side combined, one scan, bitmap-sized result — and
    * rows the filter rejects are admitted immediately: a Bloom filter has
    * NO false negatives, so "might-contain = false" proves novelty. Only
    * the might-contain rows (true duplicates + the fpp-bounded false
    * positives) proceed to the exact anti-join, so the join's probe side
    * shrinks from |batch| to |dups| + fpp·|batch| — which AQE then
    * typically broadcasts. The bloom reaches the probe as a SCALAR
    * SUBQUERY (computed once, reused across both branches by subquery
    * reuse) because `BloomFilterMightContain` accepts only literal or
    * subquery bloom inputs — a cross-joined bloom column is rejected by
    * its type check, and a driver-collected literal would put megabytes
    * of bitmap into the plan. Both expressions are Spark-native Catalyst
    * code (the ones `spark.sql.optimizer.runtime.bloomFilter` injects),
    * built here as Columns straight from their expressions.
    *
    * `expectedItems` sizes the filter (bits from Spark's own optimal-bits
    * formula at `fpp`); an undersized filter degrades fpp — more rows
    * take the exact-join path — but never correctness.
    */
  def bloomAdmission(batch: DataFrame, corpus: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    // _maybe is reserved (same guard class as rangeJoin's _rb): a batch
    // already carrying it would make the flag projection ambiguous and
    // surface as a confusing AnalysisException several operators later
    require(!batch.columns.contains("_maybe"),
      "_maybe is a reserved column name in bloomAdmission inputs")
    // a backtick in the name would be read as quoting by the column
    // resolver, not as part of the name
    require(!keyCol.contains("`"), s"keyCol must not contain backticks: $keyCol")
    val bits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bloom = corpus.select(column(new BloomFilterAggregate(
        expression(xxhash64(col(keyCol))), Literal(expectedItems), Literal(bits))
      .toAggregateExpression())).scalar()
    // coalesce: an EMPTY corpus aggregates to a null bloom and
    // might_contain(null, x) is null — without the default both the
    // NOT-maybe and the maybe branch would drop every row (admitted = ∅
    // where the exact answer is "everything"); null means "nothing was
    // folded in", i.e. definitely new
    val flagged = batch.withColumn("_maybe", coalesce(
      column(BloomFilterMightContain(expression(bloom),
        expression(xxhash64(batch(keyCol))))),
      lit(false)))
    val definiteNew = flagged.where(!col("_maybe")).drop("_maybe")
    val rescuedFalsePositives = flagged.where(col("_maybe")).drop("_maybe")
      .join(corpus.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definiteNew.unionByName(rescuedFalsePositives)
  }

  /** Blocked edit-distance pairs — the entity-resolution primitive
    * (near-identical names/titles/SKUs that hash-dedup can't see and
    * token-set methods over-match): candidate pairs are generated ONLY
    * within a caller-chosen blocking key (an equi-join, never a cross
    * product), then verified with exact Levenshtein distance ≤ `maxDist`.
    * Returns (id_a, id_b, dist) with id_a < id_b.
    *
    * Scale: the quadratic cost is Σ block² — the blocking key is the
    * knob, exactly like LSH bands for documents; `maxBlock` hard-caps
    * degenerate blocks (pruned blocks are dropped whole, recall loss is
    * explicit and logged in the plan rather than an OOM at hour six —
    * the maxBucket/maxDocFreq discipline of the rest of this family).
    * Levenshtein itself is Spark's codegen'd built-in, evaluated only on
    * the blocked candidates.
    */
  def blockedEditDistancePairs(df: DataFrame, idCol: String,
      textCol: String, blockCol: Column, maxDist: Int,
      maxBlock: Long = 10000): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val rows = df.select(col(idCol).as("id"), col(textCol).as("t"),
      blockCol.as("blk"))
    val keptBlocks = rows.groupBy("blk").agg(count(lit(1)).as("_n"))
      .where(col("_n") <= maxBlock).select("blk")
    val bounded = rows.join(keptBlocks, Seq("blk"))
    val l = bounded.select(col("blk"), col("id").as("id_a"), col("t").as("t_a"))
    val r = bounded.select(col("blk"), col("id").as("id_b"), col("t").as("t_b"))
    l.join(r, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("t_a"), col("t_b")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Blocked best-match record linkage: for every LEFT record, the
    * single RIGHT record (same block) with the highest Jaro-Winkler
    * similarity ([[graft.functions.JaroWinkler]] — a native kernel
    * pinned to DuckDB's byte-level semantics), ties broken by minimum
    * right id. The "link two registries" shape: dedup collapses one
    * table; linkage ALIGNS two (old/new snapshot, two vendors' customer
    * lists) without ever leaving unmatched left rows implicit — a left
    * record whose block has no right rows simply yields nothing, which
    * the caller can anti-join for.
    *
    * Scores are emitted in exact PPM (`round(jw·10⁶)`) so the
    * cross-engine argmax compares integers, not last-ulp doubles.
    *
    * Scale shape: candidates ∝ Σ block_l·block_r, never |L|·|R| —
    * blocks above `maxBlock` on either side are dropped (profile them
    * out-of-band, the [[graft.ops.Web.domainDocCap]] discipline). The
    * per-left argmax is a partial-aggregable max_by over the candidate
    * stream, not a window sort.
    */
  def blockedBestMatch(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, blockCol: Column, maxBlock: Long = 10000): DataFrame = {
    def side(df: DataFrame, suffix: String) = {
      val rows = df.select(col(idCol).as(s"id$suffix"),
        col(textCol).as(s"t$suffix"), blockCol.as("blk"))
      val kept = rows.groupBy("blk").agg(count(lit(1)).as("_n"))
        .where(col("_n") <= maxBlock).select("blk")
      rows.join(kept, Seq("blk"))
    }
    val cand = side(left, "_a").join(side(right, "_b"), Seq("blk"))
      .select(col("id_a").as("a"), col("id_b").as("b"),
        round(graft.functions.StringSimilarityExpressions
          .jaroWinkler(col("t_a"), col("t_b")) * 1000000)
          .cast("long").as("jw_ppm"))
    // argmax as one hash aggregate: pack (jw_ppm desc, b asc) into a
    // single orderable long — jw_ppm ≤ 10⁶ needs 20 bits, leaving 43
    // for the id (guarded, the rateLimitFirstPerWindow discipline) —
    // so the per-left best needs no window/sort, just max()
    val idBits = 43
    val packed = cand
      .withColumn("b", when(col("b") < 0 || col("b") >= (1L << idBits),
        raise_error(concat(lit("blockedBestMatch: right id outside "
          + "[0, 2^43): "), col("b").cast("string")))).otherwise(col("b")))
      .select(col("a"),
        (shiftleft(col("jw_ppm"), idBits)
          + (lit((1L << idBits) - 1) - col("b"))).as("key"))
    packed.groupBy("a").agg(max(col("key")).as("key"))
      .select(col("a"),
        (lit((1L << idBits) - 1)
          - col("key").bitwiseAND(lit((1L << idBits) - 1))).as("b"),
        shiftright(col("key"), idBits).as("jw_ppm"))
  }

  /** Fellegi–Sunter probabilistic linkage scoring over candidate pairs:
    * each comparison field contributes its log-likelihood-ratio weight —
    * ln(m/u) on agreement, ln((1−m)/(1−u)) on disagreement — and the
    * pair's score is the sum; score > 0 ⇒ the agreements outweigh the
    * disagreements under the trained m/u model. Weights arrive as
    * PINNED integer micro-nats (the m/u probabilities are offline
    * training artifacts, so their logs are constants of the model, not
    * runtime math) — the whole operator is integer sums over candidate
    * pairs, no libm in either engine, exactly oracle-replayable.
    *
    * `fields` = (agreementBoolCol, agreeMicroWeight, disagreeMicroWeight).
    * A null agreement (missing field) contributes 0 — the standard
    * missing-at-random convention.
    */
  def fellegiSunterScore(pairs: DataFrame,
      fields: Seq[(String, Long, Long)]): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val score = fields.map { case (c, aw, dw) =>
      when(col(c).isNull, lit(0L)).when(col(c), lit(aw)).otherwise(lit(dw))
    }.reduce(_ + _)
    pairs.withColumn("score_micro", score)
      .withColumn("is_match", col("score_micro") > 0)
  }

  /** The TRAINER for [[fellegiSunterScore]]'s pinned weights:
    * unsupervised EM over agreement vectors (Winkler's classic
    * two-class latent-mixture fit — no labeled matches needed, the
    * bimodal structure of the agreement patterns identifies the m/u
    * probabilities). `iterations` fixed EM rounds, every E/M step in
    * exact ppm integers so both engines land on identical parameters:
    *
    *  - E-step per pair: P(match)∝ λ·Π m-terms, P(non)∝ (1−λ)·Π
    *    u-terms, each product folded left with ONE truncating
    *    `div 10⁶` per factor (the factor order is the `fields` order —
    *    part of the operator contract the oracle replays);
    *    `w = pm·10⁶ div (pm+pu)`.
    *  - M-step: λ' = Σw div n, m' = Σ_{agree}w·10⁶ div Σw,
    *    u' = (10⁶·n_agree − Σ_{agree}w)·10⁶ div (10⁶·n − Σw) — the Σ·10⁶
    *    products ride BigInt/HUGEINT past the Long bound. All three
    *    clamp to [1, 999999]: EM's absorbing states (a probability
    *    hitting exactly 0 or 1 never leaves) would otherwise freeze a
    *    degenerate fit, and ln(0) has no weight.
    *
    * Params between rounds are a fields-sized driver list (one bounded
    * collect per round — the centroid-list discipline); each round's
    * data-sized work is ONE pass producing 2+2F map-side-combined
    * counters. Agreements must be non-null booleans (upstream
    * comparators emit false for incomparable pairs).
    *
    * Returns one row per field: the learned (λ, m, u) in ppm plus the
    * derived micro-nat scoring weights `agree_w6 = round(ln(m/u), 6)` /
    * `disagree_w6` — exactly the artifact [[fellegiSunterScore]] pins
    * (the single ln is on a ratio of exact integers; 6 d.p. absorbs
    * libm ulps, the q192 discipline).
    */
  def fellegiSunterEm(pairs: DataFrame, fields: Seq[String],
      lambda0Ppm: Long = 100000L, m0Ppm: Long = 800000L,
      u0Ppm: Long = 200000L, iterations: Int = 2): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val M = 1000000L
    def clamp(x: BigInt): Long = x.max(1).min(M - 1).toLong
    // The per-pair E-step weight depends ONLY on the pair's agreement
    // PATTERN (≤ 2^F distinct vectors for F boolean fields), so the EM
    // recurrence needs just the pattern histogram: ONE data-sized pass
    // over `pairs` total, instead of re-running the (possibly expensive —
    // q275's Jaro-Winkler blocked join) pair pipeline once per EM round.
    // Every sum below regroups the identical integer arithmetic:
    // Σ_pairs w = Σ_patterns cnt·w(pattern), exactly — the fold, the
    // truncating divs, and the clamp are unchanged, so the fitted
    // parameters are bit-identical to the per-pair formulation the
    // oracle replays. Null agreements fall into the CASE's ELSE branch
    // in SQL; the driver fold mirrors that (null ⇒ disagree-term).
    val patternRows = pairs.groupBy(fields.map(col): _*)
      .agg(count(lit(1)).as("_n")).collect()
    val patterns: Seq[(IndexedSeq[Boolean], Long)] = patternRows.toSeq.map { r =>
      (fields.indices.map(i => !r.isNullAt(i) && r.getBoolean(i)),
        r.getAs[Long]("_n"))
    }
    var lam = lambda0Ppm
    var m = fields.map(_ => m0Ppm)
    var u = fields.map(_ => u0Ppm)
    for (_ <- 1 to iterations) {
      // E-step per PATTERN: the same left fold with one truncating div
      // per factor (field order = fields order), then the M-step sums
      // weighted by the pattern count.
      var n = BigInt(0); var sw = BigInt(0)
      val swa = Array.fill(fields.size)(BigInt(0))
      val na = Array.fill(fields.size)(BigInt(0))
      patterns.foreach { case (agree, cnt) =>
        val pm = fields.indices.foldLeft(lam) { (acc, i) =>
          acc * (if (agree(i)) m(i) else M - m(i)) / M
        }
        val pu = fields.indices.foldLeft(M - lam) { (acc, i) =>
          acc * (if (agree(i)) u(i) else M - u(i)) / M
        }
        val w = pm * M / math.max(pm + pu, 1L)
        n += cnt
        sw += BigInt(w) * cnt
        fields.indices.foreach { i =>
          if (agree(i)) { swa(i) += BigInt(w) * cnt; na(i) += cnt }
        }
      }
      lam = clamp(sw / n.max(1))
      m = fields.indices.map(i => clamp(swa(i) * M / sw.max(1)))
      u = fields.indices.map { i =>
        clamp((M * na(i) - swa(i)) * M / (M * n - sw).max(1))
      }
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    fields.indices.map(i => (fields(i), lam, m(i), u(i)))
      .toDF("field", "lambda_ppm", "m_ppm", "u_ppm")
      .withColumn("agree_w6",
        round(log(col("m_ppm").cast("double") / col("u_ppm")), 6))
      .withColumn("disagree_w6",
        round(log((lit(M) - col("m_ppm")).cast("double")
          / (lit(M) - col("u_ppm"))), 6))
  }

  // ——————————————————————————————— content-defined chunking (CDC) dedup

  /** Per-document content-defined chunk hashes (the word-level analogue
    * of FastCDC/rsync's rolling-hash chunking): a chunk BOUNDARY falls
    * after every word whose md5 ≡ 0 (mod `divisor`), so boundaries are a
    * function of the CONTENT alone — insert or delete a word and only
    * the chunk containing the edit (plus at most the one a new boundary
    * splits) changes; every chunk downstream re-aligns and keeps its
    * hash. That re-synchronization is exactly what [[Cleaning.spanDedup]]'s
    * fixed-width spans lack: a one-word insertion there shifts every
    * subsequent span by one and zero spans match.
    *
    * Shape: the whole chunking is ONE narrow projection of higher-order
    * array expressions (boundary positions → start/end slices → md5 per
    * chunk) — zero exchanges, the q74 discipline; the oracle re-derives
    * it via the explode + prefix-sum formulation, proving the narrow
    * plan equals the shuffling one. Expected chunk length = `divisor`
    * words; the trailing chunk ends at the last word whether or not it
    * is a boundary.
    *
    * Output: one row per (id, chunk index) with the chunk's md5 and its
    * word count. Within-document duplicate chunks keep their separate
    * positions here; set-level consumers distinct on (id, chunk_hash).
    */
  def cdcChunkRows(df: DataFrame, textCol: String, idCol: String,
      divisor: Int = 8): DataFrame = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    val isBoundary = (word: Column) =>
      graft.functions.HashExpressions.md5Prefix64(word, 8) % divisor === 0
    // _w must be a projected attribute: Catalyst does not CSE inside
    // lambda bodies (the shinglesFromWords lesson)
    df.select(col(idCol).as("id"), TextOps.words(col(textCol)).as("_w"))
      .withColumn("_bpos",
        filter(sequence(lit(1), size(col("_w"))),
          i => isBoundary(element_at(col("_w"), i))))
      .withColumn("_starts",
        concat(array(lit(1)), transform(col("_bpos"), p => p + lit(1))))
      .withColumn("_ends", concat(col("_bpos"), array(size(col("_w")))))
      .select(col("id"),
        posexplode(
          filter(
            zip_with(col("_starts"), col("_ends"), (s, e) =>
              when(s <= e, struct(
                md5(array_join(slice(col("_w"), s, e - s + lit(1)), " "))
                  .as("h"),
                (e - s + lit(1)).cast("long").as("nw")))),
            x => x.isNotNull)))
      .select(col("id"), col("pos").cast("long").as("chunk_pos"),
        col("col.h").as("chunk_hash"), col("col.nw").as("n_words"))
  }

  /** CDC chunk-set near-dup pairs: documents sharing content-defined
    * chunks, scored by exact Jaccard over their DISTINCT chunk-hash
    * sets. Candidate generation is the chunk-hash equi-join —
    * cost ∝ Σ bucket² over chunk buckets, never all-pairs — with
    * [[pruneHotKeys]] capping any boilerplate chunk's document frequency
    * at `maxBucket` (the LSH-band discipline; a hot chunk loses only its
    * own vote, the pair's other shared chunks preserve recall). Set
    * sizes are computed BEFORE the prune, so the Jaccard denominator is
    * truthful and a capped chunk can only lower the estimate, never
    * inflate it. Returns pairs (a < b) with `shared` ≥ `minShared` and
    * `jacc_ppm` ≥ `minJaccPpm` (exact floored ppm — one integer
    * division, engine-deterministic).
    */
  def cdcChunkPairs(df: DataFrame, textCol: String, idCol: String,
      divisor: Int = 8, maxBucket: Int = Int.MaxValue,
      minShared: Long = 2L, minJaccPpm: Long = 100000L): DataFrame = {
    val sets = cdcChunkRows(df, textCol, idCol, divisor)
      .select(col("id"), col("chunk_hash")).distinct()
    val sizes = sets.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pruned = pruneHotKeys(sets, "chunk_hash", maxBucket)
    pruned.as("x").join(pruned.as("y"),
        col("x.chunk_hash") === col("y.chunk_hash") &&
          col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("a"), col("n").as("a_chunks")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("b_chunks")), "b")
      .withColumn("jacc_ppm",
        expr("(1000000 * shared) div (a_chunks + b_chunks - shared)"))
      .where(col("shared") >= minShared && col("jacc_ppm") >= minJaccPpm)
      .select(col("a"), col("b"), col("shared"), col("a_chunks"),
        col("b_chunks"), col("jacc_ppm"))
  }

  /** Sorted-neighborhood near-dup pairs — the classic pre-LSH blocking
    * method (Hernández–Stolfo) the banded families here deliberately
    * are not: sort records by a discriminating key and compare each
    * record only to its `window` successors. Where LSH recall depends
    * on hash luck, SNM recall depends on the KEY putting near-dups
    * adjacent — which is exactly right for typo-shaped corruption in
    * the sort key's own prefix region, and the method of choice when a
    * natural sort key exists (names, titles, URLs).
    *
    * This is the PARTITIONED single-pass variant: records block on the
    * key's first `blockChars` characters, the window slides WITHIN a
    * block (a global sorted window would collapse to one reducer), and
    * cross-block neighbors are missed BY DESIGN — production runs
    * multiple passes with rotated keys, same as multi-band LSH.
    * Candidates verify with exact Levenshtein on the first 64 chars
    * (both engines' `levenshtein` agree; the cap bounds the O(len²)
    * kernel). Per-block cost: |block|·window comparisons — the window
    * is the skew cap.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      keyCol: String, window: Int = 3, blockChars: Int = 2,
      maxDist: Int = 3): DataFrame = {
    require(window >= 1 && window <= 16 && blockChars >= 1 && maxDist >= 0)
    val base = df.where(col(idCol).isNotNull && col(keyCol).isNotNull)
      .select(col(idCol).as("id"),
        substring(col(keyCol), 1, 64).as("k"),
        substring(col(keyCol), 1, blockChars).as("blk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk").orderBy(col("k"), col("id"))
    val withLeads = (1 to window).foldLeft(base) { (acc, i) =>
      acc.withColumn(s"id_$i", lead(col("id"), i).over(w))
        .withColumn(s"k_$i", lead(col("k"), i).over(w))
    }
    (1 to window).map { i =>
      withLeads.where(col(s"id_$i").isNotNull)
        .select(col("id").as("id_a"), col(s"id_$i").as("id_b"),
          col("k").as("k_a"), col(s"k_$i").as("k_b"))
    }.reduce(_ unionByName _)
      .withColumn("dist", levenshtein(col("k_a"), col("k_b")))
      .where(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Blocking-quality audit — the meta-metric that decides whether a
    * blocking scheme ([[sortedNeighborhoodPairs]]'s key, an LSH band,
    * a zip+initial rule) is GOOD before the expensive verify pass runs:
    * reduction ratio (what fraction of the N² pair space the blocks
    * eliminate) and pairs completeness (what fraction of ground-truth
    * matching pairs land in a shared block — the recall ceiling any
    * downstream matcher inherits). Everything is COUNTS — the pair
    * space is never materialized: candidate pairs = Σ_b C(n_b,2),
    * truth pairs = Σ_t C(n_t,2), covered = Σ_{t,b} C(n_tb,2) (one
    * record per (truth, block), so same-truth records share a pair iff
    * they share a block), each an exact decimal sum of n·(n−1) div 2
    * (even product — the halving is exact). Ratios truncate to ppm on
    * non-negative operands.
    *
    * Scale: three map-side-combinable grouped counts over the same
    * scan; the 1-row rollup after is free. The C(n,2) sums make hot
    * blocks visible BEFORE the candidate join is attempted — this is
    * the audit [[Dedup]]'s `maxBucket` knobs act on.
    */
  def blockingQuality(df: DataFrame, idCol: String, blockCol: String,
      truthCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def pairs(c: String) = expr(s"cast($c as $dec) * ($c - 1) div 2")
    val base = df.where(col(idCol).isNotNull && col(blockCol).isNotNull &&
        col(truthCol).isNotNull)
      .select(col(blockCol).as("b"), col(truthCol).as("t"))
      .localCheckpoint() // three grouped counts over one materialization
    val byBlock = base.groupBy("b").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_blocks"), sum(pairs("n")).as("cand"))
    val byTruth = base.groupBy("t").agg(count(lit(1)).as("n"))
      .agg(sum(pairs("n")).as("truth"))
    val byBoth = base.groupBy("t", "b").agg(count(lit(1)).as("n"))
      .agg(sum(pairs("n")).as("covered"))
    val tot = base.agg(count(lit(1)).as("n_rows"))
    tot.crossJoin(byBlock).crossJoin(byTruth).crossJoin(byBoth)
      .withColumn("all_pairs", pairs("n_rows"))
      .select(col("n_rows"), col("n_blocks"),
        col("cand").cast("long").as("cand_pairs"),
        col("truth").cast("long").as("truth_pairs"),
        col("covered").cast("long").as("covered_pairs"),
        when(col("all_pairs") > 0,
          lit(1000000L) -
            expr("cast((1000000 * cand) div all_pairs as long)"))
          .as("reduction_ratio_ppm"),
        when(col("truth") > 0,
          expr("cast((1000000 * covered) div truth as long)"))
          .as("pairs_completeness_ppm"))
  }
  /** Arbitrary-length exact-substring duplication spans (round 13 — the
    * suffix-array-style upgrade of the fixed-width span dedup): every
    * maximal run of ≥ `minLen` code points shared VERBATIM by two
    * different documents, at ANY alignment, reported as merged per-doc
    * character intervals. Fixed-width spans (q73) only see duplicates
    * that occupy whole aligned spans — a run straddling span boundaries
    * at different offsets in each doc is invisible there; here alignment
    * never matters ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2021, is the semantics reference: their
    * suffix-array dup-span extraction, re-expressed as a digest-keyed
    * Spark plan).
    *
    * Plan shape (never an actual suffix array — that is a single-node
    * data structure):
    *  0. exact-duplicate collapse: one md5-of-text groupBy picks a
    *     representative per DISTINCT text (URL-level exact copies are
    *     the dominant duplication mass of real crawls; c copies of a
    *     text would otherwise put c members in each of its fp buckets
    *     and the candidate join would pay c² per fingerprint). Results
    *     map back to every copy, and a multi-copy text is by
    *     definition fully duplicated — identical to what pairwise
    *     extension between identical texts returns, so this is a
    *     rewrite, not an approximation;
    *  1. anchors: one narrow projection per doc selects winnowed
    *     `(pos, fp)` k-gram anchors ([[graft.functions.WinnowingAnchors]],
    *     w = minLen − k + 1, density ~2/w) — the winnowing guarantee
    *     makes every ≥ minLen shared run contain a content-aligned
    *     anchor pair, so candidate generation is COMPLETE;
    *  2. candidates: self-join on the 32-bit fp — digest-keyed shuffle,
    *     never text; cost ∝ Σ bucket² like the LSH path;
    *  3. extend-and-verify: candidate anchor pairs join their two texts
    *     (text moves once, only into candidate rows) and
    *     [[graft.functions.ExtendMatch]] grows the maximal common run —
    *     digest collisions die under the length threshold, so the
    *     output depends on text equality only;
    *  4. merge: runs from both sides union into per-doc intervals,
    *     merged with a per-doc running-max window (interval count per
    *     doc, not corpus size).
    *
    * Returns `(doc, span_start, span_end)` — 0-based half-open merged
    * intervals of cross-doc duplicated characters. Same-doc internal
    * repeats are deliberately out of scope (`da < db`): the operator
    * answers "which of MY text exists elsewhere in the corpus".
    */
  def exactSubstringSpans(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int = 50, k: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 1 && minLen >= k, s"need minLen >= k > 1, got minLen=$minLen k=$k")
    val w = minLen - k + 1
    val ids = docs.select(col(idCol).as("doc"), col(textCol).as("t"))
      .withColumn("tfp", md5(col("t")))
    // EXACT-DUPLICATE COLLAPSE first — the semantics-preserving rewrite
    // that keeps the candidate join bounded on real crawls (URL-level
    // exact copies are the dominant duplication mass; without this, c
    // copies of one text put c members in every one of its fp buckets
    // and the self-join pays c² per fingerprint — the sf10 sweep's
    // measured cliff). One REPRESENTATIVE per distinct text runs the
    // anchor pipeline; results broadcast back to every copy, and a text
    // with ≥ 2 copies is BY DEFINITION fully duplicated (its whole
    // interval is shared verbatim with the other copy), which is
    // exactly what pairwise extension between identical texts returns.
    val byText = ids.groupBy("tfp")
      .agg(min("doc").as("doc"), first("t").as("t"),
        count(lit(1)).as("nCopies"))
      .localCheckpoint() // anchors + two text-join roles + map-back read it
    val texts = byText.select(col("doc"), col("t"))
    val anchors = texts
      .select(col("doc"), explode(
        graft.functions.WinnowingExpressions.anchors(col("t"), k, w)).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), col("a.fp").as("fp"))
    val cand = anchors.as("x").join(anchors.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("da"), col("x.pos").as("pa"),
        col("y.doc").as("db"), col("y.pos").as("pb"))
      .distinct()
    val runs = cand
      .join(texts.withColumnRenamed("doc", "da").withColumnRenamed("t", "ta"), "da")
      .join(texts.withColumnRenamed("doc", "db").withColumnRenamed("t", "tb"), "db")
      .select(col("da"), col("db"),
        graft.functions.WinnowingExpressions
          .extendMatch(col("ta"), col("tb"), col("pa"), col("pb")).as("r"),
        (col("pa") - col("pb")).as("diff"))
      .select(col("da"), col("db"), col("diff"),
        col("r").getItem(0).as("s"), col("r").getItem(1).as("e"))
      .where(col("e") - col("s") >= minLen)
      .distinct() // several anchors inside one run extend to the same span
    // representative-level spans from cross-TEXT runs...
    val repSpans = runs.select(col("da").as("doc"), col("s"), col("e"))
      .unionByName(runs.select(col("db").as("doc"),
        (col("s") - col("diff")).as("s"), (col("e") - col("diff")).as("e")))
      .distinct()
    // ...broadcast back to every copy of the text (rep included), plus
    // the full-document span for multi-copy texts
    val mapBack = ids.select(col("doc").as("orig"), col("tfp"))
      .join(byText.select(col("tfp"), col("doc").as("rep"), col("nCopies"),
        length(col("t")).as("tlen")), "tfp")
    val spans = mapBack.join(repSpans.withColumnRenamed("doc", "rep"), Seq("rep"))
      .select(col("orig").as("doc"), col("s"), col("e"))
      .unionByName(mapBack.where(col("nCopies") >= 2 && col("tlen") >= minLen)
        .select(col("orig").as("doc"), lit(0).as("s"),
          col("tlen").cast("int").as("e")))
      .distinct()
    // merge overlapping/touching intervals per doc: a span starts a new
    // group iff it begins past the running max end of everything before
    // it (deterministic order: (s, e) — per-doc span counts are small,
    // the window never sees corpus-sized partitions)
    val ord = Window.partitionBy("doc").orderBy("s", "e")
    val prevMax = max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val merged = spans
      .withColumn("brk", when(col("s") > coalesce(prevMax, lit(-1)), 1).otherwise(0))
      .withColumn("grp", sum("brk").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc", "grp")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc"), col("span_start"), col("span_end"))
    merged
  }

  /** Per-doc rollup of [[exactSubstringSpans]] — the shape the oracle
    * gates: span count, duplicated character total, first duplicated
    * position, longest span.
    *
    * `precomputedSpans` shares one spans computation with
    * [[exciseSubstringDups]] — pass the raw [[exactSubstringSpans]]
    * output (or a staging read of it).
    */
  def exactSubstringStats(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int = 50, k: Int = 25,
      precomputedSpans: Option[DataFrame] = None): DataFrame =
    precomputedSpans
      .getOrElse(exactSubstringSpans(docs, textCol, idCol, minLen, k))
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("n_dup_chars"),
        min("span_start").cast("long").as("first_start"),
        max(col("span_end") - col("span_start")).cast("long").as("max_span"))

  /** Excise the duplicated spans of [[exactSubstringSpans]] from every
    * document — the "remove dup text" step of the Lee et al. pipeline
    * (their tool cuts every occurrence; content surviving anywhere is
    * content that was never duplicated). Pure Column algebra: per-doc
    * spans collect into a sorted array (span counts per doc are small
    * by construction) and ONE higher-order `aggregate` fold stitches
    * the kept slices — no explode back to characters, no UDF. Docs with
    * no duplicated span pass through verbatim; fully-duplicated docs
    * come out empty.
    *
    * Returns `(idCol, clean_text, n_kept_chars, n_cut_chars)`.
    *
    * `precomputedSpans` lets a composition that ALSO reports span
    * stats ([[exactSubstringStats]]) share one spans computation
    * instead of running the anchor→extend pipeline twice — pass the
    * raw [[exactSubstringSpans]] output (columns `doc`, `span_start`,
    * `span_end`). The registered queries share via the parquet spans
    * staging in `SubstringQueries.stagedSpans` (round-15: the pair used
    * to run the anchor→extend pipeline twice per corpus).
    */
  def exciseSubstringDups(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int = 50, k: Int = 25,
      precomputedSpans: Option[DataFrame] = None): DataFrame = {
    val spans = precomputedSpans
      .getOrElse(exactSubstringSpans(docs, textCol, idCol, minLen, k))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("sp"))
    docs.select(col(idCol).as("doc"), col(textCol).as("t"))
      .join(spans, Seq("doc"), "left")
      .withColumn("sp", coalesce(col("sp"),
        expr("CAST(array() AS array<struct<s:int,e:int>>)")))
      .withColumn("clean_text", expr("""
        aggregate(sp,
          named_struct('cur', 0, 'acc', ''),
          (a, x) -> named_struct('cur', x.e,
            'acc', concat(a.acc, substring(t, a.cur + 1, x.s - a.cur))),
          a -> concat(a.acc, substring(t, a.cur + 1, char_length(t) - a.cur)))"""))
      .select(col("doc").as(idCol), col("clean_text"),
        length(col("clean_text")).cast("long").as("n_kept_chars"),
        (length(col("t")) - length(col("clean_text"))).cast("long")
          .as("n_cut_chars"))
  }

}
