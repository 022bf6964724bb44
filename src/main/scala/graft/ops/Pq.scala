package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product-quantization ANN: embeddings are coded as `m` small integers
  * (one code per dimension-subspace, each naming a codeword from a
  * per-subspace codebook), and search ranks on codes via lookup tables —
  * the classic memory/throughput lever beyond scalar int8
  * ([[Similarity.quantizedTopK]]): 64 float64 dims (512 B) become 8
  * bytes, a 64× compression, and scoring a row costs `m` table lookups
  * instead of a dims-length dot product.
  *
  * Asymmetric distance computation (ADC): for a query q and a row coded
  * (j₁…j_m), dot(q, v̂) = Σ_s lutQ[s][j_s] where lutQ[s][j] = dot(q_s,
  * codeword_{s,j}) is computed ONCE per query (m·ksub doubles, a
  * literal), and ‖v̂‖² = Σ_s lutN[s][j_s] is query-independent. The
  * approximate cosine needs only the codes column — at 100 TB the scan
  * reads m bytes per row, not the embedding, and the full-precision
  * column is touched only for the k·rerankFactor candidates, exactly
  * like the int8 path.
  *
  * Codebooks are DETERMINISTIC: subspace s's ksub codewords are the
  * corpus vectors with the smallest md5("s|id"), sliced to the
  * subspace — data-dependent (real corpus geometry, the k-means++-style
  * "pick spread seeds" step) but bit-reproducible on any engine and
  * partitioning, with no Lloyd averaging noise. That is what lets the
  * DuckDB oracle re-derive codebooks, codes, ADC ranking, AND the
  * re-rank — the whole chain, not just the final answer. A production
  * build Lloyd-refines each codebook for better recall —
  * [[refineCodebooks]], the per-subspace analogue of
  * [[Similarity.refineCentroids]] — at the cost of bit-reproducibility
  * (aggregation-order float noise), the trade documented there and
  * measured in PqSpec.
  */
object Pq {

  /** words(s)(j) = codeword j of subspace s, dsub doubles. */
  final case class Codebook(m: Int, dsub: Int, ksub: Int,
      words: Seq[Seq[Seq[Double]]])

  /** Seed selection ranks KEYS ONLY: the corpus explodes to (id, s, h)
    * triples — never the embeddings, which would carry the full vector
    * payload through the rank shuffle — and per-subspace top-ksub is a
    * salted two-phase window: phase 1 keeps ksub per (s, salt) shard (so
    * each sort task sees ~1/`seedSalts` of the corpus instead of the
    * whole corpus landing in one of m partitions), phase 2 re-ranks the
    * surviving m·seedSalts·ksub keys — a few thousand rows — for the
    * exact global answer (per-group min-k is distributive, so the global
    * top-ksub is contained in the union of shard top-ksubs). The m·ksub
    * winning ids then broadcast-semi-join back to the corpus to fetch
    * just their subspace slices. The collect stays m·ksub·dsub doubles —
    * bounded by index design constants, and the codebook must be
    * driver-side anyway to become the literal LUTs.
    */
  def trainCodebooks(vectors: DataFrame, m: Int, ksub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seedSalts: Int = 64): Codebook = {
    val dims = vectors.select(size(col(vecCol))).head.getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val dsub = dims / m
    val w1 = Window.partitionBy("s", "salt").orderBy("h")
    val w2 = Window.partitionBy("s").orderBy("h")
    val winners = vectors
      .select(col(idCol).as("id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .withColumn("h",
        md5(concat(col("s").cast("string"), lit("|"), col("id").cast("string"))))
      .withColumn("salt", pmod(xxhash64(col("id")), lit(seedSalts)))
      .withColumn("r", row_number().over(w1)).where(col("r") <= ksub)
      .withColumn("j", row_number().over(w2)).where(col("j") <= ksub)
      .select(col("id"), col("s"), col("j"))
    val rows = vectors
      .select(col(idCol).as("id"), Similarity.asDouble(col(vecCol)).as("e"))
      .join(broadcast(winners), Seq("id"))
      .select(col("s"), col("j"),
        slice(col("e"), col("s") * dsub + 1, lit(dsub)).as("cw"))
      .collect()
    val words = (0 until m).map { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toSeq).toSeq
    }
    require(words.forall(_.size == ksub), "corpus smaller than ksub")
    Codebook(m, dsub, ksub, words)
  }

  /** codes column: array of m codeword indices (0-based), each the
    * argmin-L2 codeword of the row's subspace slice; ties take the
    * smaller index. Pure narrow expression over codebook literals —
    * m·ksub·dsub multiply-adds per row, inside codegen'd HOF evaluation,
    * no shuffle and no UDF.
    */
  /** argmin-L2 codeword index of `sub` within subspace `s`'s codebook;
    * ties take the smaller index (strict `<`). Shared by [[encodeCol]]
    * and [[refineCodebooks]] so encoding and refinement can never
    * disagree on the assignment metric.
    */
  private def nearestCode(sub: Column, cbLit: Column, s: Column,
      ksub: Int): Column =
    aggregate(
      sequence(lit(0), lit(ksub - 1)),
      struct(lit(Double.MaxValue).as("best"), lit(0).as("bj")),
      (st, j) => {
        val cw = element_at(element_at(cbLit, s + 1), j + 1)
        val d2 = aggregate(zip_with(sub, cw, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
        when(d2 < st.getField("best"),
          struct(d2.as("best"), j.as("bj"))).otherwise(st)
      },
      st => st.getField("bj"))

  def encodeCol(vec: Column, cb: Codebook): Column = {
    val cbLit = typedLit(cb.words)
    transform(sequence(lit(0), lit(cb.m - 1)), s =>
      nearestCode(slice(vec, s * cb.dsub + 1, lit(cb.dsub)), cbLit, s, cb.ksub))
  }

  /** Lloyd-refine a codebook: per iteration, every subspace slice is
    * assigned to its nearest codeword (the same argmin-L2 as
    * [[encodeCol]]) and each codeword moves to the mean of its assigned
    * slices; empty cells keep their codeword. The per-iteration cost is
    * one narrow scan + one map-side-combining aggregate whose shuffle
    * carries at most m·ksub·dsub partials per mapper — the collect stays
    * m·ksub·dsub doubles, same bound as training.
    *
    * The trade vs the deterministic md5-seeded codebook: refinement
    * recovers recall on clustered corpora (centroids move into the
    * clusters instead of sitting on arbitrary seed rows) but its floats
    * depend on aggregation order, so refined codebooks are NOT
    * bit-reproducible across engines — production indexes should refine;
    * oracle-checked paths (q78/q80) stay deterministic. PqSpec measures
    * the recall side of the trade on a planted-cluster corpus.
    */
  def refineCodebooks(vectors: DataFrame, cb: Codebook, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): Codebook = {
    var words = cb.words
    for (_ <- 1 to iters) {
      val cbLit = typedLit(words)
      val means = vectors
        .select(Similarity.asDouble(col(vecCol)).as("e"),
          explode(sequence(lit(0), lit(cb.m - 1))).as("s"))
        .select(col("s"),
          slice(col("e"), col("s") * cb.dsub + 1, lit(cb.dsub)).as("sub"))
        .withColumn("j", nearestCode(col("sub"), cbLit, col("s"), cb.ksub))
        .select(col("s"), col("j"), posexplode(col("sub")))
        .groupBy(col("s"), col("j"), col("pos")).agg(avg(col("col")).as("mval"))
        .collect()
      val byCell = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      words = (0 until cb.m).map { s =>
        (0 until cb.ksub).map { j =>
          byCell.get((s, j)) match {
            case Some(rs) => rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
            case None => words(s)(j)
          }
        }
      }
    }
    Codebook(cb.m, cb.dsub, cb.ksub, words)
  }

  /** ADC approximate cosine from the codes column and a driver-side
    * query vector: two m·ksub lookup tables as literals, m element_at's
    * per row. Sum order is fixed (s = 0..m-1, left to right) so any
    * engine reproduces the same doubles.
    */
  def adcCosineCol(codes: Column, cb: Codebook, q: Seq[Double]): Column = {
    require(q.size == cb.m * cb.dsub)
    val qSubs = q.grouped(cb.dsub).toSeq
    val lutQ = typedLit(cb.words.zip(qSubs).map { case (ws, qs) =>
      ws.map(cw => cw.zip(qs).map { case (c, x) => c * x }.sum)
    })
    val lutN = typedLit(cb.words.map(_.map(cw => cw.map(c => c * c).sum)))
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val terms = (acc: Column, lut: Column) => aggregate(
      sequence(lit(0), lit(cb.m - 1)), lit(0.0),
      (a, s) => a + element_at(element_at(lut, s + 1),
        element_at(codes, s + 1) + 1))
    val dotQ = terms(lit(0.0), lutQ)
    val n2 = terms(lit(0.0), lutN)
    dotQ / (lit(qNorm) * sqrt(n2))
  }

  /** Persist a codebook as a tiny parquet table (s, j, cw) beside the
    * index that was encoded with it — codes are meaningless without
    * their codebook, so the two must travel together.
    */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession, cb: Codebook,
      path: String): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.m; j <- 0 until cb.ksub
    } yield (s, j, cb.words(s)(j))
    rows.toDF("s", "j", "cw").repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Codebook = {
    val rows = spark.read.parquet(path).orderBy("s", "j").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val words = (0 until m).map { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toSeq).toSeq
    }
    require(words.map(_.size).distinct.size == 1, s"ragged codebook at $path")
    Codebook(m, words.head.head.size, words.head.size, words)
  }

  private def codebookPath(indexPath: String): String = s"$indexPath.pq"

  /** Build an IVF+PQ index — the production ANN layout (FAISS's IVFPQ):
    * every vector is assigned to its nearest coarse centroid
    * ([[Similarity.assignToCentroids]]) and stored as its m PQ codes,
    * partitioned by centroid. The index holds (id, codes, centroid_id)
    * ONLY — m bytes of payload per row, not the embedding; full
    * precision stays in the source table and is touched just for
    * re-rank candidates (by id). At 100 TB that means the searchable
    * artifact is ~m/(8·dims) of the corpus (64-dim float64, m=8 → 64×
    * smaller), probes read nProbe partitions of it, and the big table
    * is read k·rerankFactor rows per query. The codebook rides a
    * parquet sidecar at `<path>.pq`.
    */
  def buildIvfPqIndex(vectors: DataFrame, centroids: DataFrame, path: String,
      m: Int = 8, ksub: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): Codebook = {
    val cb = trainCodebooks(vectors, m, ksub, idCol, vecCol)
    Similarity.assignToCentroids(vectors, centroids, idCol, vecCol)
      .select(col(idCol),
        encodeCol(Similarity.asDouble(col(vecCol)), cb).as("codes"),
        col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    saveCodebooks(vectors.sparkSession, cb, codebookPath(path))
    cb
  }

  /** Incrementally maintain a [[buildIvfPqIndex]] table: assign the
    * batch to the SAME coarse centroids, encode with the SAVED codebook
    * (an index's codebook is fixed between rebuilds — re-training would
    * invalidate every stored code, the same invariant as the frozen
    * centroids), and hand the (id, codes, centroid_id) rows to the
    * shared drift-safe upsert
    * ([[Similarity.upsertCentroidPartitionedIndex]]): touched partitions
    * only, same-id upsert including cross-centroid drift, emptied-dir
    * deletion, sidecar maintenance, crash repair by re-running the
    * batch. Cost per batch is the IVF append's — O(batch + affected
    * buckets), never O(index).
    */
  def appendToIvfPqIndex(newVectors: DataFrame, centroids: DataFrame,
      path: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val cb = loadCodebooks(newVectors.sparkSession, codebookPath(path))
    val assigned = Similarity
      .assignToCentroids(newVectors, centroids, idCol, vecCol)
      .select(col(idCol),
        encodeCol(Similarity.asDouble(col(vecCol)), cb).as("codes"),
        col("centroid_id"))
    Similarity.upsertCentroidPartitionedIndex(assigned, path, idCol)
  }

  /** IVF+PQ search: rank coarse centroids against the query, scan only
    * the `nProbe` probed partitions of the codes index (driver-literal
    * `isin` so pruning reaches the source as `PartitionFilters`, as the
    * plain-IVF path), ADC-rank the codes, then join the top
    * k·rerankFactor ids back to the full-precision `vectors` table for
    * the exact re-rank. Ordering: 4-d.p.-rounded scores, id tiebreaks,
    * both stages.
    */
  def ivfPqTopKIndexed(indexPath: String, centroids: DataFrame,
      vectors: DataFrame, queryDf: DataFrame, k: Int, nProbe: Int,
      rerankFactor: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = centroids.sparkSession
    val cb = loadCodebooks(spark, codebookPath(indexPath))
    val q = queryDf.select(col("qvec")).head.getSeq[Double](0).toSeq
    val probed = centroids.crossJoin(broadcast(queryDf))
      .select(col("cid"),
        graft.functions.VectorExpressions.cosineSim(col("cvec"), col("qvec")).as("c"))
      .orderBy(col("c").desc, col("cid"))
      .limit(nProbe)
      .select(col("cid")).collect().map(_.getLong(0)).toSeq
    val cand = spark.read.parquet(indexPath)
      .where(col("centroid_id").isin(probed: _*))
      .select(col(idCol), round(adcCosineCol(col("codes"), cb, q), 4).as("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(k * rerankFactor)
      .select(col(idCol))
    vectors.join(broadcast(cand), Seq(idCol), "left_semi")
      .crossJoin(broadcast(queryDf))
      .select(col(idCol),
        round(graft.functions.VectorExpressions.cosineSim(
          Similarity.asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** PQ ANN with exact re-rank: rank the corpus on the ADC cosine
    * (codes-only scan), keep the top k·rerankFactor, re-rank those at
    * full precision. Ordering uses 4-d.p.-rounded scores with id
    * tiebreaks at both stages, the discipline every ANN path here
    * follows. The query vector is collected driver-side because the
    * LUTs must be literals — one row, dims doubles, bounded by design.
    */
  def pqTopK(vectors: DataFrame, queryDf: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 32, rerankFactor: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqTopKWithCodebook(vectors, trainCodebooks(vectors, m, ksub, idCol, vecCol),
      queryDf, k, rerankFactor, idCol, vecCol)

  /** [[pqTopK]] with a pre-trained codebook — training is a per-CORPUS
    * cost, not a per-query one: callers serving many queries train (or
    * [[loadCodebooks]]) once and invoke this per query, so each query
    * pays only the codes-scan + re-rank.
    */
  def pqTopKWithCodebook(vectors: DataFrame, cb: Codebook, queryDf: DataFrame,
      k: Int, rerankFactor: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queryDf.select(col("qvec")).head.getSeq[Double](0).toSeq
    val cand = vectors
      .select(col(idCol), col(vecCol),
        encodeCol(Similarity.asDouble(col(vecCol)), cb).as("_codes"))
      .select(col(idCol), col(vecCol),
        round(adcCosineCol(col("_codes"), cb, q), 4).as("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(k * rerankFactor)
    cand.crossJoin(broadcast(queryDf))
      .select(col(idCol),
        round(graft.functions.VectorExpressions.cosineSim(
          Similarity.asDouble(col(vecCol)), col("qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
